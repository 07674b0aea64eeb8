"""Source/sink formats and the SQL-language surface:
ORC/JSON/XML/text/binaryFile round trips, compaction, schema
evolution, Z-order layout, the Python DataSource API, dynamic
partition overwrite/pruning, bucketed no-shuffle joins, and the
sql_* statement forms (CTE, GROUP BY ALL, PIVOT, session variables,
EXECUTE IMMEDIATE, scalar UDF, recursion, EXISTS subqueries,
GROUPING SETS).

Same rules as queries_core.py: sinks round-trip through stable_tmp
and the oracle checks the logical content; every computed column is
aliased identically on both sides; counts cast to BIGINT.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from realestate_engine.registry import ORACLES, cache_once, register, stable_tmp, t


@register("s10_orc_roundtrip", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def s10_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: ORC sink + scan — Spark's second columnar format, same
    predicate-pushdown/column-pruning machinery as parquet. The ORC
    footer preserves exact types so no explicit read schema is needed."""
    out = stable_tmp("s10_orc")
    t(spark, sf_dir, "nation").write.mode("overwrite").orc(out)
    return spark.read.orc(out).select("n_nationkey", "n_name", "n_regionkey")


@register("s11_json_roundtrip", "SELECT s_suppkey, s_name, s_nationkey FROM supplier")
def s11_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: JSON-lines sink + explicit-schema scan (schema-on-read:
    inference would double-scan and widen ints — an explicit schema is
    the scale path for JSON sources)."""
    out = stable_tmp("s11_json")
    t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey").write.mode(
        "overwrite"
    ).json(out)
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType(), True),
            T.StructField("s_name", T.StringType(), True),
            T.StructField("s_nationkey", T.IntegerType(), True),
        ]
    )
    return spark.read.schema(schema).json(out)


_SQL_CTE = """
    WITH po AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM {orders} GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n_orders,
           cents / CAST(100 AS DOUBLE) AS total_price
    FROM po WHERE n_orders > 0 ORDER BY o_orderpriority
"""


@register("sql_cte_entry", _SQL_CTE.format(orders="orders"))
def sql_cte_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end entry: the engine accepts raw ANSI SQL with CTEs
    over registered views — the exact text the oracle runs (modulo the
    view name), proving the spark.sql path, not just the DataFrame
    DSL. Same Catalyst plan either way."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("_sql_orders")
    return spark.sql(_SQL_CTE.format(orders="_sql_orders"))


@register("s12_xml_roundtrip", "SELECT r_regionkey, r_name FROM region")
def s12_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: native XML sink + scan (Spark 4 built-in, no external
    package): write region as <region> row elements, read back with an
    explicit schema + rowTag. Completes the source/sink matrix
    (CSV/parquet/ORC/JSON/XML/binary). Explicit read schema — XML
    inference double-scans, same rule as the JSON source."""
    out = stable_tmp("s12_xml")
    t(spark, sf_dir, "region").select("r_regionkey", "r_name").write.mode("overwrite").option(
        "rowTag", "region"
    ).format("xml").save(out)
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType(), True),
            T.StructField("r_name", T.StringType(), True),
        ]
    )
    return spark.read.schema(schema).option("rowTag", "region").format("xml").load(out)


@register(
    "s13_binaryfile_scan",
    # The driver compares at sf0.01, so the blob glob names that dir;
    # tools/check_oracle.oracle_sql rewrites the path for other scales.
    r"""
    SELECT regexp_extract(filename, '([^/]+)\.parquet$', 1) AS table_name,
           CAST(size AS BIGINT) AS n_bytes,
           CAST(OCTET_LENGTH(content) AS BIGINT) AS content_bytes
    FROM read_blob('/root/testdata/sf0.01/*.parquet')
    ORDER BY table_name
    """,
)
def s13_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: binaryFile source — the ingestion path for opaque media
    blobs (images/audio/video) feeding the MM* multimodal operators:
    each file becomes (path, modificationTime, length, content:binary).
    Here it scans the sf dir's parquet files themselves as opaque
    blobs and derives per-extension stats; the DuckDB oracle reads the
    same files with read_blob, proving both the metadata column and
    the loaded bytes agree with the filesystem. At 100 TB this is how
    raw media lands in a DataFrame without a decode step in the scan."""
    files = spark.read.format("binaryFile").load(sf_dir + "/*.parquet")
    return (
        files.select(
            F.regexp_extract(F.col("path"), r"([^/]+)\.parquet$", 1).alias("table_name"),
            F.col("length").cast("bigint").alias("n_bytes"),
            F.length(F.col("content")).cast("bigint").alias("content_bytes"),
        )
        .orderBy("table_name")
    )


@register(
    "s14_compaction_roundtrip",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    """,
)
def s14_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: small-file compaction — the table-maintenance pass every
    100 TB lake needs: a fragmented table (64 shards here; millions of
    small files in production) is rewritten into ceil(bytes / 128 MB)
    right-sized files. Target file count comes from listing the
    fragmented output's sizes (metadata only — no data through the
    driver); the oracle proves the rewrite is content-preserving by
    aggregating the compacted copy. coalesce() (not repartition)
    avoids a shuffle: compaction only narrows partitioning."""
    import math
    import os

    frag_dir = stable_tmp("s14_frag")
    out_dir = stable_tmp("s14_compact")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    li.repartition(64).write.mode("overwrite").parquet(frag_dir)
    frag = spark.read.parquet(frag_dir)
    n_bytes = sum(
        os.path.getsize(os.path.join(frag_dir, f))
        for f in os.listdir(frag_dir)
        if f.endswith(".parquet")
    )
    target_files = max(1, math.ceil(n_bytes / (128 * 1024 * 1024)))
    frag.coalesce(target_files).write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"))
        .cast("bigint")
        .alias("total_cents"),
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"),
    )


@register(
    "s15_schema_evolution_merge",
    """
    SELECT o_orderkey, o_totalprice, NULL AS o_comment_len
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, CAST(LENGTH(o_orderpriority) AS BIGINT) AS o_comment_len
    FROM orders WHERE o_orderkey % 2 = 1
    ORDER BY o_orderkey
    """,
)
def s15_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15: schema evolution on read — an old partition written with 2
    columns and a new partition with an added column are scanned as ONE
    table via mergeSchema; missing columns null-fill. The ubiquitous
    lake situation (columns added over months of ingest) that a
    fixed-schema engine can't read at all. Footer-merge only — no data
    rewrite."""
    base = stable_tmp("s15_evo")
    o = t(spark, sf_dir, "orders")
    o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice").write.mode(
        "overwrite"
    ).parquet(base + "/p=old")
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_totalprice",
        F.length("o_orderpriority").cast("bigint").alias("o_comment_len"),
    ).write.mode("overwrite").parquet(base + "/p=new")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(base + "/p=old", base + "/p=new")
        .select("o_orderkey", "o_totalprice", "o_comment_len")
        .orderBy("o_orderkey")
    )


def _interleave_bits_expr(x: str, y: str) -> str:
    """Morton/Z-value bit interleave of two 16-bit ints as pure
    div/mod/mul arithmetic — the SAME expression string runs on Spark
    and DuckDB (FLOOR-division and % are cross-engine-exact; no
    dialect-specific shift operators)."""
    terms = []
    for i in range(16):
        terms.append(f"(CAST(FLOOR({x} / {1 << i}) AS BIGINT) % 2) * {1 << (2 * i)}")
        terms.append(f"(CAST(FLOOR({y} / {1 << i}) AS BIGINT) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


_ZVAL = _interleave_bits_expr("xm", "ym")


@register(
    "s16_zorder_layout",
    f"""
    WITH keyed AS (
        SELECT o_orderkey,
               o_custkey % 65536 AS xm,
               DATE_DIFF('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 65536 AS ym
        FROM orders
    )
    SELECT o_orderkey, CAST({_ZVAL} AS BIGINT) AS zval
    FROM keyed
    ORDER BY o_orderkey
    """,
)
def s16_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16: Z-order (Morton-curve) data layout — interleave the bits of
    two filter dimensions (customer, order day) into one clustering
    key, then repartitionByRange + sortWithinPartitions + write so
    parquet row-group min/max stats are tight on BOTH dimensions at
    once. This is the lakehouse multi-dimensional-clustering op (Delta
    OPTIMIZE ZORDER) that single-column sorting can't give you: at
    100 TB it turns either-dimension point queries into file skips.
    The z-value is pure integer arithmetic from one shared expression
    string — bit-identical across engines; pytest asserts the physical
    files have narrow per-file custkey spreads."""
    out = os.path.join(tempfile.gettempdir(), "re_s16_zorder")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).alias("xm"),
        (F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")) % 65536).alias(
            "ym"
        ),
    )
    z = o.select("o_orderkey", "xm", "ym", F.expr(_ZVAL).cast("bigint").alias("zval"))
    (
        z.repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out).select("o_orderkey", "zval").orderBy("o_orderkey")


@register(
    "s17_python_datasource",
    """
    SELECT d.range AS device_id,
           r.range AS reading_idx,
           (1103515245 * (d.range * 100000 + r.range) + 12345) % 2147483648 AS reading
    FROM range(8) d, range(500) r
    ORDER BY device_id, reading_idx
    """,
)
def s17_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17: custom Python DataSource (Spark 4 extension point) — a
    partitioned generator source: one InputPartition per device, each
    executor-side partition yielding its device's readings from a
    deterministic integer LCG (no driver data movement; planning sees
    only partition METADATA). This is how a bespoke feed (sensor
    fleet, sharded REST API, proprietary format) plugs into the scan
    path with real parallelism. Classes are defined in-function so
    cloudpickle ships them by value to executors. The LCG is pure
    integer arithmetic — the oracle regenerates it exactly in SQL."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    n_devices, n_readings = 8, 500

    class SensorSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "sensor_lcg"

        def schema(self) -> str:
            return "device_id BIGINT, reading_idx BIGINT, reading BIGINT"

        def reader(self, schema):  # noqa: ANN001
            return SensorReader()

    class SensorReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(d) for d in range(n_devices)]

        def read(self, partition):
            d = partition.value
            for idx in range(n_readings):
                yield (d, idx, (1103515245 * (d * 100000 + idx) + 12345) % 2147483648)

    spark.dataSource.register(SensorSource)
    return (
        spark.read.format("sensor_lcg")
        .load()
        .orderBy("device_id", "reading_idx")
    )


@register(
    "sql_recursive_reachability",
    """
    WITH RECURSIVE pairs AS (
        SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs
    ),
    root AS (SELECT 'c' || MIN(o_custkey) AS node FROM orders),
    reach(node, depth) AS (
        SELECT node, 0 FROM root
        UNION ALL
        SELECT e.dst, r.depth + 1
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.depth < 2
    )
    SELECT node, CAST(MIN(depth) AS BIGINT) AS hops
    FROM reach
    GROUP BY node
    ORDER BY hops, node
    """,
)
def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL2: recursive CTE (Spark 4 WITH RECURSIVE) — bounded BFS from
    the lowest-key customer over the trade graph, reporting each
    reachable node's hop distance. The iterative-closure class
    expressed DECLARATIVELY: Catalyst unions each frontier expansion
    (a join per level) exactly like graph.py's PageRank loop, but
    driven by the engine, not the driver. Depth-capped at 2 — the
    bipartite graph is cyclic, and an unbounded closure over cycles
    never terminates under UNION ALL semantics. Same SQL text runs on
    both engines (the oracle IS this query)."""
    import re

    t(spark, sf_dir, "orders").createOrReplaceTempView("_rr_orders")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("_rr_lineitem")
    # same SQL text as the oracle, with table names scoped to private
    # temp views (bare names would leak into later spark.sql queries)
    sql = re.sub(r"\b(orders|lineitem)\b", r"_rr_\1", ORACLES["sql_recursive_reachability"])
    return spark.sql(sql)


@register(
    "s18_permissive_corrupt_json",
    """
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier) AS n_good,
           CAST(7 AS BIGINT) AS n_corrupt,
           (SELECT CAST(SUM(s_suppkey) AS BIGINT) FROM supplier) AS good_key_total
    """,
)
def s18_permissive_corrupt_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18: dirty-feed ingestion — JSON scan in PERMISSIVE mode with a
    _corrupt_record column: well-formed rows parse, malformed lines
    (7 planted: truncated JSON, bare text, wrong bracket...) land
    intact in the corrupt column instead of killing the job — the
    quarantine pattern for 100 TB feeds where FAILFAST is operationally
    impossible and DROPMALFORMED silently loses data. The count of
    good/corrupt rows is the oracle-checked audit a quarantine pipeline
    emits. (The scan is cached: Spark refuses to filter on ONLY the
    corrupt column from a lazy scan, since column pruning would elide
    the parse that defines it.)"""
    import os

    out = stable_tmp("s18_json")
    t(spark, sf_dir, "supplier").select("s_suppkey", "s_name").write.mode("overwrite").json(out)
    bad = [
        '{"s_suppkey": 1, "s_name": ',
        "not json at all",
        '{"s_suppkey": "}',
        "[1, 2,",
        '{"s_suppkey": 2 "s_name": "x"}',
        "{{}}",
        '"dangling',
    ]
    with open(os.path.join(out, "part-corrupt.json"), "w") as f:
        f.write("\n".join(bad) + "\n")
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType(), True),
            T.StructField("s_name", T.StringType(), True),
            T.StructField("_corrupt_record", T.StringType(), True),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    df = cache_once(df)
    return df.agg(
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_good"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("s_suppkey"))).cast("bigint").alias(
            "good_key_total"
        ),
    )


_SQL_GROUP_BY_ALL = """
    SELECT o_orderstatus,
           o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM {orders}
    GROUP BY ALL
    ORDER BY ALL
"""


@register("sql_group_by_all", _SQL_GROUP_BY_ALL.format(orders="orders"))
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL3: GROUP BY ALL / ORDER BY ALL — the analyst-ergonomics SQL
    surface (Spark >= 3.4, DuckDB native): every non-aggregate select
    item becomes a grouping key. The oracle runs the IDENTICAL text.
    Money summed in exact integer cents (FLOOR per the cross-engine
    rounding rule), divided never — hash-stable on both engines."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("_sql_gba_orders")
    return spark.sql(_SQL_GROUP_BY_ALL.format(orders="_sql_gba_orders"))


@register(
    "s19_text_source",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_lines
    FROM documents
    """,
)
def s19_text_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19: line-oriented text sink + source (spark.read/write.text) —
    the rawest corpus ingestion format (one doc per line, the shape of
    most public web-text dumps). Writes the document texts as .txt
    part-files, reads them back with the distributed line reader, and
    audits count/chars/distinct against the parquet ground truth (the
    oracle recomputes the same audit straight from the table; the
    testdata texts are single-line, so lines == docs)."""
    out = stable_tmp("s19_text")
    t(spark, sf_dir, "documents").select("text").write.mode("overwrite").text(out)
    lines = spark.read.text(out)
    return lines.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.length("value")).cast("bigint").alias("total_chars"),
        F.countDistinct("value").cast("bigint").alias("n_distinct_lines"),
    )


_SQL_PIVOT = """
    SELECT * FROM (
        SELECT o_orderpriority,
               o_orderstatus,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM {orders}
    )
    PIVOT (
        SUM(cents) FOR o_orderstatus IN ('F' AS f_cents, 'O' AS o_cents, 'P' AS p_cents)
    )
    ORDER BY o_orderpriority
"""


@register(
    "sql_pivot_syntax",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS f_cents,
           CAST(SUM(CASE WHEN o_orderstatus = 'O'
                         THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS o_cents,
           CAST(SUM(CASE WHEN o_orderstatus = 'P'
                         THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS p_cents
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def sql_pivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL4: the SQL PIVOT clause (vs a11's DataFrame groupBy().pivot())
    — Spark parses the standard subquery-PIVOT form; Catalyst rewrites
    it to exactly the conditional aggregation the oracle states, so the
    syntax sugar costs nothing at scale (one hash agg, partial-agg
    eligible; integer cents keep it hash-exact)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("_sql_pivot_orders")
    return spark.sql(_SQL_PIVOT.format(orders="_sql_pivot_orders"))


@register(
    "s20_file_provenance",
    """
    SELECT 'orders.parquet' AS source_file,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    """,
)
def s20_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S20: row provenance via input_file_name() — tag every row with
    the file it came from and roll up per-file row counts and key
    ranges: the ingestion-audit primitive (which landed file produced
    these rows? did a file double-load?). At 100 TB this powers
    file-level replay/quarantine without a full-table diff. The oracle
    pins the expected single-file provenance."""
    o = t(spark, sf_dir, "orders")
    return (
        o.select(
            F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1).alias("source_file"),
            "o_orderkey",
        )
        .groupBy("source_file")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            F.max("o_orderkey").cast("bigint").alias("max_key"),
        )
    )


@register(
    "s21_dynamic_partition_overwrite",
    """
    WITH base AS (
        SELECT o_orderstatus,
               CAST(o_orderkey + CASE WHEN o_orderstatus = 'O' THEN 1000000 ELSE 0 END AS BIGINT)
                   AS adj_key
        FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(adj_key) AS BIGINT) AS key_sum
    FROM base GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def s21_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S21: dynamic partition overwrite — the incremental-reload
    primitive: rewriting one partition's data replaces ONLY the
    partitions present in the written frame, leaving siblings intact
    (partitionOverwriteMode=dynamic; static mode would truncate the
    whole table). The query writes orders partitioned by status,
    overwrites just the 'O' partition with shifted keys, reads the
    table back and audits per-partition counts + key sums — the oracle
    states the expected post-overwrite state. At 100 TB this is how
    daily partitions reload without touching history."""
    out = os.path.join(tempfile.gettempdir(), "re_s21_dpo")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            o.where(F.col("o_orderstatus") == "O")
            .select((F.col("o_orderkey") + 1000000).alias("o_orderkey"), "o_orderstatus")
            .write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(out)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    back = spark.read.parquet(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "sql_session_variables",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_above
    FROM orders
    WHERE o_totalprice > 300000.0
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL5: session variables (DECLARE / SET VARIABLE, Spark >= 4) —
    the parameterization surface for SQL-first users: thresholds and
    dates live in typed session variables instead of string-pasted
    literals (injection-safe, plan-cache friendly). Catalyst folds the
    variable to a constant at analysis, so the physical plan is
    identical to the literal form the oracle states."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("_sql_var_orders")
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE")
    spark.sql("SET VARIABLE price_floor = 300000.0")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_above
        FROM _sql_var_orders
        WHERE o_totalprice > price_floor
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@register(
    "s22_csv_malformed_modes",
    """
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nation) AS n_good,
           CAST(5 AS BIGINT) AS n_malformed,
           (SELECT CAST(SUM(n_nationkey) AS BIGINT) FROM nation) AS good_key_total
    """,
)
def s22_csv_malformed_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S22: CSV parse-mode matrix — the CSV twin of s18's JSON
    quarantine. Five malformed lines (extra columns, too few columns,
    unclosed quote, non-numeric key, stray quote char) are planted next
    to a clean export of `nation`; the query reads the directory in
    PERMISSIVE mode with a _corrupt_record column (quarantine: bad
    lines survive as raw text) AND in DROPMALFORMED (bad lines vanish)
    and reports the quarantine audit. Only the PERMISSIVE counts are
    oracle-pinned: DROPMALFORMED's kept-set depends on parser column
    pruning (a pruned scan that only needs column 1 cannot see a
    wrong-token-count error in column 4), so its subset/containment
    contract — and FAILFAST throwing on the first bad line, the mode
    that is operationally wrong at 100 TB — are asserted relationally
    in tests/test_new_ops.py instead of pinned to a parser version.
    The PERMISSIVE scan is cached because Spark refuses to filter on
    only the corrupt column of a lazy CSV scan."""
    import os

    # stable path (not mkdtemp): repeated invocations overwrite one
    # directory instead of accumulating temp dirs, and the identical
    # path keeps the scan's canonicalized plan — and thus its cache
    # entry — shared across runs
    out = os.path.join(tempfile.gettempdir(), "re_s22_csv")
    os.makedirs(out, exist_ok=True)
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    n.write.mode("overwrite").option("header", "false").csv(out)
    bad = [
        "1,extra,2,3,4",          # too many columns
        "2",                       # too few columns
        '3,"unclosed quote,0',     # quote never closes
        "notanint,BADLAND,0",      # key fails the LongType cast
        "9,NINE,notanint",         # region fails the LongType cast
    ]
    with open(os.path.join(out, "part-malformed.csv"), "w") as f:
        f.write("\n".join(bad) + "\n")
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType(), True),
            T.StructField("n_name", T.StringType(), True),
            T.StructField("n_regionkey", T.LongType(), True),
            T.StructField("_corrupt_record", T.StringType(), True),
        ]
    )
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    permissive = cache_once(permissive)

    audit = permissive.agg(
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0)).cast("bigint").alias("n_good"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)).cast("bigint").alias("n_malformed"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("n_nationkey"))).cast("bigint").alias("good_key_total"),
    )
    return audit.select("n_good", "n_malformed", "good_key_total")


@register(
    "sql_execute_immediate",
    """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
    FROM customer
    WHERE c_nationkey = 3
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL6: EXECUTE IMMEDIATE with USING parameters (Spark >= 4) —
    dynamic SQL with bind parameters instead of f-string splicing: the
    text is parameterized once (? placeholders), values bind at
    execution (injection-safe; same plan as the literal form). The
    dynamic-SQL path a metadata-driven pipeline uses to run generated
    query text safely."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("_sql_exec_customer")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT c_mktsegment,
                CAST(COUNT(*) AS BIGINT) AS n_customers,
                CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
         FROM _sql_exec_customer
         WHERE c_nationkey = ?
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment'
        USING 3
        """
    )


@register(
    "sql_scalar_udf",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
               AS discounted_cents
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL7: SQL-language scalar UDF (CREATE FUNCTION ... RETURN expr,
    Spark >= 3.5) — engine extension WITHOUT leaving the JVM: the
    function body is inlined into the plan by Catalyst (whole-stage
    codegen, pushdown-transparent), unlike a Python UDF which would pin
    a BatchEvalPython island into every caller. The right default for
    shared business formulas (here: discounted price in exact cents);
    Python/pandas UDFs stay the escape hatch for logic SQL can't say."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("_sql_udf_lineitem")
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS discounted_cents_fn")
    spark.sql(
        """
        CREATE TEMPORARY FUNCTION discounted_cents_fn(price DOUBLE, disc DOUBLE)
        RETURNS BIGINT
        RETURN CAST(ROUND(price * (1 - disc) * 100) AS BIGINT)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(discounted_cents_fn(l_extendedprice, l_discount)) AS BIGINT)
                   AS discounted_cents
        FROM _sql_udf_lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


@register(
    "s23_dynamic_partition_pruning",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders
    WHERE o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def s23_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S23: DYNAMIC partition pruning — the runtime half of partition
    pruning (s2/s3 cover the static half): the fact table is stored
    partitioned by o_orderpriority, and the selective predicate lives
    on a DERIVED column of the dim side (is_high), so no static filter
    on the partition column exists at plan time. Catalyst inserts a
    dynamicpruning#N subquery into the fact scan's PartitionFilters:
    the dim side runs first, its surviving join keys become an IN
    filter, and the fact scan never opens the pruned partitions' files.
    At 100 TB date-partitioned facts joined to filtered dims this is
    the difference between scanning 3 partitions and 3000 — and it
    cannot be written statically because the pruning set is computed AT
    RUNTIME. Plan asserted in tests/test_plans_and_streaming.py; the
    oracle states the post-join semantics directly."""
    out = os.path.join(tempfile.gettempdir(), "re_s23_dpp")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderpriority")
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        o.select("o_orderpriority")
        .distinct()
        .withColumn("is_high", F.col("o_orderpriority").substr(1, 1).isin("1", "2"))
    )
    return (
        fact.join(dim.where(F.col("is_high")), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


def bucketed_orders_lineitem_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S24 core: write orders and lineitem as BUCKETED tables (8
    buckets on the join key, sorted within buckets), then sort-merge
    join them with ZERO exchanges — the bucket layout IS the shuffle,
    paid once at write time and amortized over every subsequent join
    on that key. tests/test_plans_and_streaming.py asserts the joined
    plan contains a SortMergeJoin and no ShuffleExchange at all. At
    100 TB this is the canonical co-located join: both fact tables
    land bucketed by orderkey, and daily joins/rollups on that key
    never shuffle the big sides again. The merge hint pins the
    demonstration to SMJ (a broadcast join at oracle scale would also
    be exchange-free, but for the wrong reason)."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    for name, df, key, path in [
        ("re_s24_li", li, "l_orderkey", stable_tmp("s24_li")),
        ("re_s24_o", o, "o_orderkey", stable_tmp("s24_o")),
    ]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", path)
            .saveAsTable(name)
        )
    ob = spark.table("re_s24_o").hint("merge")
    lb = spark.table("re_s24_li")
    return ob.join(lb, ob.o_orderkey == lb.l_orderkey)


@register(
    "s24_bucketed_join_no_shuffle",
    """
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def s24_bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S24: bucketed co-located join — the no-shuffle sort-merge join
    over pre-bucketed tables (see bucketed_orders_lineitem_join for
    the layout and the plan contract), rolled up per order priority.
    The only exchange in this query's whole plan is the k-row
    per-priority aggregate ABOVE the join; the two big scans feed the
    SMJ directly from their bucket files."""
    joined = bucketed_orders_lineitem_join(spark, sf_dir)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count_distinct(F.col("o_orderkey")).cast("bigint").alias("n_orders"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


# --- sql_pipe_syntax: Spark 4.x SQL pipe operators ----------------------------

_PIPE_SQL = """
    FROM {orders} AS o
    JOIN {customer} AS c ON c.c_custkey = o.o_custkey
    |> WHERE o.o_orderstatus <> 'P'
    |> EXTEND CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
    |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(cents) AS BIGINT) AS revenue_cents
       GROUP BY c.c_mktsegment AS mktsegment
    |> WHERE n_orders > 0
    |> ORDER BY mktsegment
"""


@register(
    "sql_pipe_syntax",
    """
    SELECT c.c_mktsegment AS mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_orderstatus <> 'P'
    GROUP BY c.c_mktsegment
    HAVING COUNT(*) > 0
    ORDER BY mktsegment
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE syntax (Spark 4.x |> operators, the SQL:2023-era
    linear composition form): the same segment-revenue rollup as plain
    ANSI, written as FROM |> WHERE |> EXTEND |> AGGREGATE ... GROUP BY
    |> WHERE |> ORDER BY — each stage consumes the previous one's
    output top-to-bottom, the way the DataFrame DSL reads. Catalyst
    lowers it to the identical logical plan as the ANSI text the
    oracle runs (DuckDB has no pipe form), so this pins BOTH that the
    front-end accepts the syntax and that its semantics match the
    classic formulation — aggregate aliasing, post-aggregation WHERE
    (pipe's HAVING), EXTEND's computed column."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("_pipe_orders")
    t(spark, sf_dir, "customer").createOrReplaceTempView("_pipe_customer")
    return spark.sql(_PIPE_SQL.format(orders="_pipe_orders", customer="_pipe_customer"))


# --- sql_collation: Spark 4 collation-aware comparison semantics --------------

_COLLATE_SQL = """
    WITH mangled AS (
        SELECT CASE c_custkey % 3
                 WHEN 0 THEN UPPER(c_mktsegment)
                 WHEN 1 THEN LOWER(c_mktsegment)
                 ELSE c_mktsegment END AS seg
        FROM {customer}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_distinct_cs,
           CAST(COUNT(DISTINCT seg COLLATE UTF8_LCASE) AS BIGINT) AS n_distinct_ci,
           CAST(SUM(CASE WHEN seg COLLATE UTF8_LCASE = 'building' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_building_ci
    FROM mangled
"""


@register(
    "sql_collation",
    """
    WITH mangled AS (
        SELECT CASE c_custkey % 3
                 WHEN 0 THEN UPPER(c_mktsegment)
                 WHEN 1 THEN LOWER(c_mktsegment)
                 ELSE c_mktsegment END AS seg
        FROM customer
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_distinct_cs,
           CAST(COUNT(DISTINCT LOWER(seg)) AS BIGINT) AS n_distinct_ci,
           CAST(SUM(CASE WHEN LOWER(seg) = 'building' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_building_ci
    FROM mangled
    """,
)
def sql_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL collations (Spark 4 COLLATE): case-mangled segments counted
    under binary semantics vs UTF8_LCASE — collation-aware DISTINCT
    collapses the three case variants per segment and collation-aware
    equality matches them without rewriting the data, which is the
    point of engine-level collations vs the LOWER() scrubbing the
    oracle must use (DuckDB default has no UTF8_LCASE). Pins that the
    collated distinct-count and predicate semantics equal the
    canonical-form computation. Collation compares hash-agg exactly
    like any string — no plan change, no funnel."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("_coll_customer")
    return spark.sql(_COLLATE_SQL.format(customer="_coll_customer"))


# --- sql_lateral_join: correlated LATERAL subquery ----------------------------

_LATERAL_SQL = """
    SELECT n.n_name AS nation,
           t.c_name AS top_customer,
           t.cents AS balance_cents
    FROM {nation} n,
    LATERAL (
        SELECT c.c_name, CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS cents
        FROM {customer} c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY cents DESC, c.c_name
        LIMIT 1
    ) t
    ORDER BY nation
"""


@register(
    "sql_lateral_join",
    _LATERAL_SQL.format(nation="nation", customer="customer"),
)
def sql_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL LATERAL correlated subquery (Spark 4 supports the ANSI
    form): per nation, the top customer by balance via a correlated
    ordered-LIMIT subquery — the SQL-surface twin of j7's DataFrame
    lateral top-k. The EXACT same text runs on DuckDB as the oracle
    (both engines speak LATERAL), so this pins not just acceptance of
    the syntax but decorrelation semantics: Catalyst rewrites the
    correlated limit into a window/aggregate plan rather than
    re-executing the subquery per row — per-nation top-1 at 100 TB is
    one shuffle, not |nation| scans."""
    t(spark, sf_dir, "nation").createOrReplaceTempView("_lat_nation")
    t(spark, sf_dir, "customer").createOrReplaceTempView("_lat_customer")
    return spark.sql(_LATERAL_SQL.format(nation="_lat_nation", customer="_lat_customer"))


# --- S25: recursive directory discovery + glob-filtered scan -------------------


@register(
    "s25_recursive_glob_scan",
    """
    SELECT r_name,
           CAST(COUNT(*) * 2 AS BIGINT) AS n_rows_both_layouts,
           CAST(COUNT(*) AS BIGINT) AS n_rows_archive_only
    FROM region
    GROUP BY r_name ORDER BY r_name
    """,
)
def s25_recursive_glob_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S25: recursive file discovery with glob filtering — the lake
    hygiene pair every multi-team bucket needs: region is written
    under TWO nesting conventions (year=2024/month=01/live/ and
    archive/deep/nested/), then read back (a) with recursiveFileLookup
    (partition-structure-agnostic full discovery — both copies) and
    (b) with pathGlobFilter + recursion pinning only the archive
    basename pattern. Emits per-region counts under each discovery
    mode; the oracle states them from the base table (2x and 1x). At
    100 TB discovery cost is driven by listing parallelism, not data
    size — Spark's InMemoryFileIndex lists in parallel, and the glob
    prunes BEFORE any footer read."""
    base = stable_tmp("s25_layout")
    r = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    r.write.mode("overwrite").parquet(f"{base}/year=2024/month=01/live")
    r.write.mode("overwrite").option("compression", "snappy").parquet(
        f"{base}/archive/deep/nested"
    )
    all_rows = (
        spark.read.option("recursiveFileLookup", "true").parquet(base)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows_both_layouts"))
    )
    archive_only = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{base}/archive")
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows_archive_only"))
    )
    return all_rows.join(archive_only, "r_name").orderBy("r_name")


@register(
    "s26_csv_multiline_roundtrip",
    r"""
    SELECT doc_id,
           CAST(LEN(payload) - LEN(REPLACE(payload, CHR(10), '')) + 1 AS BIGINT)
               AS n_lines,
           ('0x' || SUBSTR(MD5(payload), 1, 8))::BIGINT AS payload_hash
    FROM (
        SELECT doc_id,
               'L1: ' || SUBSTR(text, 1, 40) || CHR(10) ||
               'L2,"' || source || '",' || CHR(10) || 'L3 end' AS payload
        FROM documents
    )
    ORDER BY doc_id
    """,
)
def s26_csv_multiline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S26: CSV sink/scan round-trip for fields containing embedded
    newlines, quotes, and commas — written quoted, read back with
    ``multiLine`` enabled. The hash-compared output (line count +
    md5-prefix of each payload) proves losslessness against an oracle
    that never touches the file at all.

    Scale note: multiLine CSV is the one text format Spark cannot
    split inside a file (records cross line boundaries), so
    parallelism = file count; the writer keeps the source partitioning
    (one file per task) and the plan documents the constraint rather
    than hiding it. For 100 TB ingest, prefer Parquet — this operator
    exists because real corpora arrive as quoted CSV."""
    out = stable_tmp("s26_csv_multiline")
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("L1: "),
            F.substring("text", 1, 40),
            F.lit("\nL2,\""),
            F.col("source"),
            F.lit("\",\nL3 end"),
        ).alias("payload"),
    )
    d.write.mode("overwrite").option("header", True).option("quoteAll", True).csv(out)
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .schema("doc_id long, payload string")
        .csv(out)
    )
    n_lines = (
        F.length("payload") - F.length(F.regexp_replace("payload", "\n", "")) + 1
    ).cast("bigint")
    return back.select(
        "doc_id",
        n_lines.alias("n_lines"),
        F.conv(F.substring(F.md5("payload"), 1, 8), 16, 10).cast("long").alias("payload_hash"),
    ).orderBy("doc_id")


_SQL_EXISTS = """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_loyal_small
    FROM {customer} c
    WHERE EXISTS (SELECT 1 FROM {orders} o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      AND NOT EXISTS (SELECT 1 FROM {orders} o2
                      WHERE o2.o_custkey = c.c_custkey
                        AND o2.o_totalprice > 450000)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""


@register(
    "sql_exists_subquery",
    _SQL_EXISTS.format(customer="customer", orders="orders"),
)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL6: correlated EXISTS / NOT EXISTS subqueries — the same SQL
    text runs on both engines. Catalyst rewrites EXISTS to a left-semi
    join and NOT EXISTS to a left-anti join (RewritePredicateSubquery),
    so the physical plan is two hash joins on o_custkey — fully
    distributed, no per-row subquery execution."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("_sql_ex_customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("_sql_ex_orders")
    return spark.sql(
        _SQL_EXISTS.format(customer="_sql_ex_customer", orders="_sql_ex_orders")
    )


@register(
    "sql_grouping_sets",
    """
    SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
           COALESCE(l_linestatus, '(all)') AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
    ORDER BY gid, returnflag, linestatus
    """,
)
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface: explicit GROUPING SETS with grouping_id
    disambiguation — the general form behind rollup (a10) and cube
    (a11), here with a non-hierarchical set list (both margins + total)
    that neither rollup nor cube alone expresses. COALESCE + the
    grouping bits distinguish 'NULL because aggregated away' from a
    genuine NULL group value. One Expand + one hash aggregate; the
    expand factor equals the number of sets (4), and partial
    aggregation still applies before the shuffle."""
    li = t(spark, sf_dir, "lineitem")
    df = li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
        .cast("bigint")
        .alias("gid"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return df.select(
        F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
        "gid",
        "rev_cents",
        "n",
    ).orderBy("gid", "returnflag", "linestatus")
