"""Core relational operators: scans/sinks, projections, filters, joins,
windows, sorts, set operations (SURVEY.md §2.1-2.3, §2.5-2.7); the
aggregations (§2.4) are in queries_aggregates.py.

Each query is the Spark-first re-expression of a reference operator
(file:line cited per query); the paired oracle SQL is what DuckDB runs
on the same parquet for the driver's correctness gate.

Scale notes honored throughout:
- dimension tables (region/nation/supplier) joined via broadcast — no
  shuffle of the fact side's join keys;
- aggregations are expressed declaratively so Catalyst plans partial
  (map-side) aggregation before the shuffle;
- top-k is orderBy+limit → Spark plans TakeOrderedAndProject (no global
  sort materialization);
- no .collect(), no Python row-at-a-time UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from realestate_engine.dedup import bit_sql, lane_hash, lane_hash_sql, portable_hash32
from realestate_engine.ordered import exclusive_prefix_offsets
from realestate_engine.registry import cache_once, register, stable_tmp, t
from realestate_engine.schemas import TESTDATA_SCHEMAS
# ---------------------------------------------------------------------------
# Flagship (entry()): revenue by nation = J1 + A2 + O1 analogue
# (reference: notebooks/00_prepare_data.py:57 join; notebooks/01:163-166
# group-avg + sort — re-expressed on the TPC-H testdata)
# ---------------------------------------------------------------------------


def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy(F.col("revenue").desc())
    )


register(
    "flagship_revenue_by_nation",
    """
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
)(flagship_revenue_by_nation)


# ---------------------------------------------------------------------------
# S — scans / sinks (SURVEY §2.1)
# ---------------------------------------------------------------------------


@register("s1_csv_roundtrip", "SELECT r_regionkey, r_name FROM region")
def s1_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S6: native CSV sink then explicit-schema CSV scan (reference
    scan: notebooks/00_prepare_data.py:43-53; reference sink detoured
    through pandas, src/webapp/app.py:153 — ours is distributed)."""
    out = stable_tmp("s1_csv")
    t(spark, sf_dir, "region").write.mode("overwrite").option("header", "true").csv(out)
    return spark.read.option("header", "true").schema(TESTDATA_SCHEMAS["region"]).csv(out)


@register(
    "s2_parquet_scan_pushdown",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity >= 45.0
    """,
)
def s2_parquet_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: parquet scan with filter + projection reaching the scan
    (PushedFilters/ReadSchema — verified in tests/test_plans.py).
    Reference: src/features/feature_engineering.py:401-404."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") >= 45.0).select("l_orderkey", "l_linenumber", "l_quantity")


@register(
    "s3_parquet_sink_partitioned",
    "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders",
)
def s3_parquet_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: partitioned parquet sink + read-back (partition pruning is the
    scale path: a status-filtered scan reads one directory).
    Reference sink: notebooks/00_prepare_data.py:91 (no partitionBy)."""
    out = stable_tmp("s3_parquet")
    (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    return spark.read.parquet(out).select("o_orderkey", "o_totalprice", "o_orderstatus")


@register(
    "s4_local_rows",
    """
    SELECT CAST(1 AS INTEGER) AS id, 'alpha' AS name, CAST(10.5 AS DOUBLE) AS score
    UNION ALL SELECT CAST(2 AS INTEGER), 'beta', NULL
    UNION ALL SELECT CAST(3 AS INTEGER), 'gamma', CAST(3.25 AS DOUBLE)
    """,
)
def s4_local_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: local-row source with explicit schema (reference:
    src/inference/predict.py:62, src/webapp/app.py:51)."""
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("score", T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame([(1, "alpha", 10.5), (2, "beta", None), (3, "gamma", 3.25)], schema)


@register(
    "s6_csv_sink_native",
    "SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem",
)
def s6_csv_sink_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: distributed CSV sink (exact-typed columns) + read-back."""
    out = stable_tmp("s6_csv")
    sub = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag")
    sub.write.mode("overwrite").option("header", "true").csv(out)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType(), True),
            T.StructField("l_linenumber", T.IntegerType(), True),
            T.StructField("l_returnflag", T.StringType(), True),
        ]
    )
    return spark.read.option("header", "true").schema(schema).csv(out)


# ---------------------------------------------------------------------------
# P — projections / filters / row-level predicates (SURVEY §2.2)
# ---------------------------------------------------------------------------


@register(
    "p1_cast_normalization",
    """
    SELECT CAST(l_orderkey AS VARCHAR) AS order_str,
           CAST(l_linenumber AS BIGINT) AS line_long,
           CAST(FLOOR(l_quantity) AS INTEGER) AS qty_int,
           CAST(l_shipdate AS DATE) AS ship_date,
           l_extendedprice AS price
    FROM lineitem
    """,
)
def p1_cast_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: schema-normalization cast projection (reference: the 21-column
    cast list at notebooks/00_prepare_data.py:65-87). floor() before the
    double->int cast because Spark truncates while DuckDB rounds."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").cast("string").alias("order_str"),
        F.col("l_linenumber").cast("long").alias("line_long"),
        F.floor("l_quantity").cast("int").alias("qty_int"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.col("l_extendedprice").alias("price"),
    )


@register("p2_column_subset", "SELECT doc_id, lang, n_chars FROM documents")
def p2_column_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 (reference: notebooks/01:108,125-130 select subsets)."""
    return t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")


@register("p3_rename", "SELECT o_orderkey, o_totalprice AS price FROM orders")
def p3_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 (reference: src/inference/predict.py:24 withColumnRenamed)."""
    return t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice").withColumnRenamed("o_totalprice", "price")


@register(
    "p4_null_filter",
    """
    SELECT event_id, event_type FROM events
    WHERE (CASE WHEN value >= 10.0 THEN value END) IS NULL
    """,
)
def p4_null_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: isNull predicate filter (reference: notebooks/01:78). Testdata
    has no physical nulls, so nulls are synthesized with a guard."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.withColumn("v", F.when(F.col("value") >= 10.0, F.col("value")))
        .filter(F.col("v").isNull())
        .select("event_id", "event_type")
    )


@register(
    "p5_sql_string_filter",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > 200000 AND o_orderstatus = 'F'
    """,
)
def p5_sql_string_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: SQL-string predicate parsed by Catalyst (reference:
    src/webapp/app.py:90)."""
    return (
        t(spark, sf_dir, "orders")
        .filter("o_totalprice > 200000 AND o_orderstatus = 'F'")
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "p6_range_filter_drop",
    """
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_quantity BETWEEN 10.0 AND 20.0
    """,
)
def p6_range_filter_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: value-range filter then column drop (reference:
    notebooks/04_model_improvement.py:88-90)."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity").between(10.0, 20.0)).drop(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    )


@register(
    "p7_conditional_case",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS price_tier,
           CAST(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS BIGINT) AS is_urgent
    FROM orders
    """,
)
def p7_conditional_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: when/otherwise chain + isin flag (reference:
    src/features/feature_engineering.py:94-126,171-180)."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_tier"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0).cast("long").alias("is_urgent"),
    )


@register(
    "p8_null_imputation",
    """
    SELECT event_id,
           COALESCE(CASE WHEN value >= 10.0 THEN value END, -1.0) AS value_filled
    FROM events
    """,
)
def p8_null_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: df.na.fill imputation (reference:
    src/features/feature_engineering.py:83-91 strict/permissive fill)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.withColumn("value_filled", F.when(F.col("value") >= 10.0, F.col("value")))
        .select("event_id", "value_filled")
        .na.fill({"value_filled": -1.0})
    )


@register(
    "p9_null_profile",
    """
    SELECT CAST(SUM(CASE WHEN (CASE WHEN value >= 10.0 THEN value END) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_value,
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_event_type,
           CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_props,
           COUNT(*) AS n_rows
    FROM events
    """,
)
def p9_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: ONE-pass missing-value profile. The reference issues one job
    per column (notebooks/01:73-86, src/webapp/app.py:89-92) — a
    scale-killer at 100 TB; ours is a single aggregate."""
    ev = t(spark, sf_dir, "events").withColumn("v", F.when(F.col("value") >= 10.0, F.col("value")))
    return ev.agg(
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).cast("long").alias("nulls_value"),
        F.sum(F.when(F.col("event_type").isNull(), 1).otherwise(0)).cast("long").alias("nulls_event_type"),
        F.sum(F.when(F.col("props").isNull(), 1).otherwise(0)).cast("long").alias("nulls_props"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "p11_try_cast_safe_parse",
    """
    SELECT event_id,
           TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k_num,
           TRY_CAST(event_type AS BIGINT) AS type_as_num,
           TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) IS NOT NULL AS k_parses
    FROM events
    ORDER BY event_id
    """,
)
def p11_try_cast_safe_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: ANSI-safe parsing with try_cast — Spark 4 runs ANSI mode by
    default, where a bare CAST of junk ('signup' → BIGINT) throws and
    kills the job; try_cast yields NULL instead. The dirty-input
    survival pattern every large-scale ingest needs: parse what parses,
    flag what doesn't."""
    ev = t(spark, sf_dir, "events")
    k_str = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k_str.try_cast("bigint").alias("k_num"),
        F.col("event_type").try_cast("bigint").alias("type_as_num"),
        k_str.try_cast("bigint").isNotNull().alias("k_parses"),
    ).orderBy("event_id")


@register(
    "p13_hash_split",
    """
    WITH tagged AS (
        SELECT o_orderkey,
               CASE WHEN SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 1) < 'c' THEN 'train'
                    WHEN SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 1) < 'e' THEN 'val'
                    ELSE 'test' END AS split
        FROM orders
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM tagged GROUP BY split ORDER BY split
    """,
)
def p13_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13: content-hash train/val/test split — the reproducible
    alternative to seeded randomSplit (p11). Split membership is a pure
    function of the row key (first hex nibble of md5: 12/16 train,
    2/16 val, 2/16 test), so it is stable across engines, reruns,
    cluster sizes, and data re-partitioning — the property a 100 TB
    pipeline needs so that adding rows tomorrow never reshuffles
    yesterday's assignments (randomSplit re-deals everything). Narrow,
    no shuffle until the audit agg."""
    tagged = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) < "c", "train")
        .when(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) < "e", "val")
        .otherwise("test")
        .alias("split"),
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            F.max("o_orderkey").cast("bigint").alias("max_key"),
        )
        .orderBy("split")
    )


@register(
    "p14_dense_reid",
    """
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS new_id
    FROM documents
    ORDER BY doc_id
    """,
)
def p14_dense_reid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14: dense global re-enumeration (assign contiguous ids 1..N in
    key order) WITHOUT the single-partition global window that a naive
    ROW_NUMBER() OVER (ORDER BY ...) plans — the classic zipWithIndex
    problem, solved relationally: range-partition by the key, count
    rows per partition (tiny agg), turn counts into per-partition base
    offsets with a broadcast self-join over the 32-row partition table,
    broadcast the offsets back, and add a within-partition row_number. Every
    stage is distributed; the only serial structure is the 32-row
    offset ledger. The oracle states the semantics with the plain
    global window DuckDB can afford."""
    from pyspark.sql import Window

    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .repartitionByRange(32, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()  # pin partition assignment: both branches below must see identical pids
    )
    counts = d.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    # 32-row ledger: broadcast non-equi self-join prefix sum (see
    # ordered.exclusive_prefix_offsets) — no unpartitioned WindowExec
    offsets = exclusive_prefix_offsets(counts, "pid", "cnt", "base")
    w_in = Window.partitionBy("pid").orderBy("doc_id")
    return (
        d.join(F.broadcast(offsets), "pid")
        .select(
            "doc_id",
            (F.col("base") + F.row_number().over(w_in)).cast("bigint").alias("new_id"),
        )
        .orderBy("doc_id")
    )


@register(
    "p16_hash_priority_sample",
    """
    WITH ranked AS (
        SELECT o_orderpriority, o_orderkey,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY MD5(CAST(o_orderkey AS VARCHAR)), o_orderkey
               ) AS rn
        FROM orders
    )
    SELECT o_orderpriority, CAST(o_orderkey AS BIGINT) AS o_orderkey, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 5
    ORDER BY o_orderpriority, rn
    """,
)
def p16_hash_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P16: deterministic per-group uniform sample via hash priorities
    — rank each row within its group by the md5 of its key and keep the
    top 5: a uniform-without-replacement sample (hash order is
    pseudo-random w.r.t. any data attribute) that is REPRODUCIBLE
    across engines, reruns, and cluster sizes, and composable (the
    same row set survives re-sampling a superset — the property behind
    consistent bottom-k sketches). rand()-based sampling has none of
    these. One window pass per group key; at 100 TB swap row_number for
    a min-k aggregate to avoid materializing full group sorts."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), "o_orderkey"
    )
    return (
        o.select(
            "o_orderpriority",
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 5)
        .select("o_orderpriority", "o_orderkey", F.col("rn").cast("bigint").alias("rn"))
        .orderBy("o_orderpriority", "rn")
    )


@register(
    "p17_try_arithmetic",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN (l_linenumber - 4) = 0 THEN NULL
                ELSE l_extendedprice / (l_linenumber - 4) END AS price_ratio,
           CAST(CASE WHEN (l_linenumber - 4) = 0 THEN 1 ELSE 0 END AS BIGINT) AS div_by_zero
    FROM lineitem
    WHERE l_orderkey < 200
    ORDER BY l_orderkey, l_linenumber
    """,
)
def p17_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P17: ANSI-safe arithmetic — Spark 4 runs in ANSI mode by
    default, so a plain division by zero THROWS mid-job (at 100 TB:
    after hours of progress). try_divide is the total-function form:
    NULL on the poison row, job completes, and the audit column counts
    the rows that would have killed the legacy pipeline. The divisor
    (l_linenumber - 4) plants real zeros. The oracle states the
    equivalent CASE guard — bitwise-identical doubles on the non-null
    rows (one IEEE division)."""
    li = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    div = F.col("l_linenumber") - 4
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), div).alias("price_ratio"),
        F.when(div == 0, 1).otherwise(0).cast("bigint").alias("div_by_zero"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "p18_rare_category_collapse",
    """
    WITH counts AS (
        SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment
    ),
    tot AS (SELECT SUM(n) AS total FROM counts),
    mapped AS (
        SELECT c.c_custkey,
               CASE WHEN ct.n * 100 >= tot.total * 20 THEN c.c_mktsegment
                    ELSE '__rare__' END AS segment
        FROM customer c
        JOIN counts ct ON ct.c_mktsegment = c.c_mktsegment
        CROSS JOIN tot
    )
    SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM mapped GROUP BY segment ORDER BY segment
    """,
)
def p18_rare_category_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P18: rare-category collapsing — fold categories whose share
    falls below a threshold into one '__rare__' bucket before
    encoding. The reference PERSISTS this threshold
    (RARE_CATEGORY_THRESHOLD=0.05, src/features/feature_engineering.py
    :43,308) but never implements the collapse (SURVEY §8 Q2); this is
    the op it intended. Keeps one-hot widths bounded as category
    cardinality grows with data volume — the 100 TB failure mode is a
    million-column encoder from long-tail categories. The share test
    is cross-multiplied to integers (n·100 >= total·threshold%), so
    both engines agree exactly. The threshold (20%) is chosen to split
    the testdata's 5 roughly-equal segments into kept + collapsed,
    exercising both branches."""
    c = t(spark, sf_dir, "customer")
    counts = c.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    mapped = (
        c.join(counts, "c_mktsegment")
        .crossJoin(F.broadcast(tot))
        .select(
            F.when(F.col("n") * 100 >= F.col("total") * 20, F.col("c_mktsegment"))
            .otherwise("__rare__")
            .alias("segment")
        )
    )
    return (
        mapped.groupBy("segment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .orderBy("segment")
    )


@register(
    "p19_schema_drift_audit",
    """
    SELECT 'o_orderkey' AS column_name, 'bigint' AS v1_type, 'int' AS v2_type,
           'type_changed' AS change
    UNION ALL
    SELECT 'o_orderpriority', 'string', NULL, 'removed'
    UNION ALL
    SELECT 'o_orderstatus', NULL, 'string', 'added'
    UNION ALL
    SELECT 'o_totalprice', 'double', 'double', 'unchanged'
    ORDER BY column_name
    """,
)
def p19_schema_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P19: schema-drift audit — diff the ACTUAL schemas of two written
    table versions (the upstream-contract check that runs before any
    data comparison makes sense): v2 narrows a key type, drops a
    column, and adds another; the audit reads both parquet footers and
    reports per-column added/removed/type_changed/unchanged. The
    result frame is O(columns) driver metadata (like m10's CV params —
    an allowlisted local frame); the oracle states the expected
    contract literally, so a silent writer-side schema change flips
    the hash. At 100 TB this is a footer-metadata operation — no data
    pages are read."""
    o = t(spark, sf_dir, "orders")
    v1_dir, v2_dir = stable_tmp("p19_v1"), stable_tmp("p19_v2")
    o.select("o_orderkey", "o_totalprice", "o_orderpriority").write.mode(
        "overwrite"
    ).parquet(v1_dir)
    o.select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        "o_totalprice",
        "o_orderstatus",
    ).write.mode("overwrite").parquet(v2_dir)
    s1 = dict(spark.read.parquet(v1_dir).dtypes)
    s2 = dict(spark.read.parquet(v2_dir).dtypes)
    rows = []
    for col in sorted(set(s1) | set(s2)):
        t1, t2 = s1.get(col), s2.get(col)
        change = (
            "added" if t1 is None
            else "removed" if t2 is None
            else "type_changed" if t1 != t2
            else "unchanged"
        )
        rows.append((col, t1, t2, change))
    return spark.createDataFrame(
        rows, "column_name string, v1_type string, v2_type string, change string"
    ).orderBy("column_name")


@register(
    "p22_survivorship_golden_record",
    """
    WITH ranked AS (
        SELECT o_custkey, o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus, o_orderdate,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END DESC,
                            o_orderdate DESC,
                            CAST(ROUND(o_totalprice * 100) AS BIGINT) DESC,
                            o_orderkey ASC
               ) AS rn
        FROM orders
    )
    SELECT o_custkey,
           o_orderkey AS golden_orderkey,
           o_orderstatus AS golden_status,
           o_orderdate AS golden_date,
           cents AS golden_cents
    FROM ranked WHERE rn = 1
    ORDER BY o_custkey
    """,
)
def p22_survivorship_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P22: survivorship (golden record) selection — the MDM rule
    cascade that picks ONE surviving record per entity: prefer
    finalized status, then the newest date, then the highest amount,
    then the lowest key as the deterministic last resort. The engine
    expresses the whole cascade as a single max_by over a packed
    comparison struct — ONE partial-aggregated groupBy, no window and
    no self-join (the oracle's ROW_NUMBER form is the spec; a window
    would sort every group's rows where the aggregate keeps one
    running champion per group map-side). The key tiebreak is negated
    inside the struct so lexicographic struct max implements 'lowest
    key wins'."""
    o = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    pref = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    champ = F.max(
        F.struct(
            pref.alias("p"),
            F.col("o_orderdate").alias("d"),
            cents.alias("c"),
            (-F.col("o_orderkey")).alias("nk"),
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("st"),
        )
    ).alias("g")
    return (
        o.groupBy("o_custkey")
        .agg(champ)
        .select(
            "o_custkey",
            F.col("g.k").alias("golden_orderkey"),
            F.col("g.st").alias("golden_status"),
            F.col("g.d").alias("golden_date"),
            F.col("g.c").alias("golden_cents"),
        )
        .orderBy("o_custkey")
    )


@register(
    "p23_pseudonymize_join_audit",
    """
    WITH c_tok AS (
        SELECT ('0x' || SUBSTR(MD5('pepper-' || CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT AS c_tok,
               c_nationkey
        FROM customer
    ),
    o_tok AS (
        SELECT ('0x' || SUBSTR(MD5('pepper-' || CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT AS o_tok,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    joined AS (
        SELECT c.c_nationkey AS nation, o.cents
        FROM o_tok o JOIN c_tok c ON o.o_tok = c.c_tok
    ),
    direct AS (
        SELECT c.c_nationkey AS nation, CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    collisions AS (
        SELECT COUNT(*) - COUNT(DISTINCT c_tok) AS n FROM c_tok
    )
    SELECT j.nation,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(j.cents) AS BIGINT) AS revenue_cents,
           CAST(CASE WHEN COUNT(*) = (SELECT COUNT(*) FROM direct d WHERE d.nation = j.nation)
                      AND SUM(j.cents) = (SELECT SUM(d.cents) FROM direct d WHERE d.nation = j.nation)
                THEN 1 ELSE 0 END AS BIGINT) AS join_preserved,
           CAST((SELECT n FROM collisions) AS BIGINT) AS token_collisions
    FROM joined j GROUP BY j.nation ORDER BY j.nation
    """,
)
def p23_pseudonymize_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P23: join-preserving pseudonymization — the GDPR-compliance
    counterpart of t14_pii_redaction: the natural key (custkey) is
    replaced on BOTH tables with a keyed-hash surrogate (48-bit md5
    token with a pepper, the portable-hash family), and the audit
    proves analytics survive tokenization: per nation, the
    surrogate-key join reproduces the direct join's row count and
    revenue exactly (join_preserved), and the token space is
    collision-free on this population (token_collisions = 0 — at
    100 TB the token widens, same 5-character change as every hash in
    this repo).

    Plan shape: tokenization is a per-row codegen'd expression (no
    lookup-table shuffle — deterministic keyed hashing is exactly what
    makes pseudonymized joins scale); the audit joins are ordinary
    shuffle joins; the collision census is one distinct-agg broadcast
    onto the group frame."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")

    def tok(col):
        return F.conv(F.substring(F.md5(F.concat(F.lit("pepper-"), col.cast("string"))), 1, 12), 16, 10).cast("long")

    c_tok = c.select(tok(F.col("c_custkey")).alias("c_tok"), "c_nationkey")
    o_tok = o.select(
        tok(F.col("o_custkey")).alias("o_tok"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    joined = (
        o_tok.join(c_tok, o_tok.o_tok == c_tok.c_tok)
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"), F.sum("cents").cast("long").alias("revenue_cents"))
    )
    direct = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")), o.o_custkey == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(F.count(F.lit(1)).cast("long").alias("d_n"), F.expr("CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias("d_rev"))
    )
    collisions = c_tok.agg(
        (F.count(F.lit(1)) - F.countDistinct("c_tok")).cast("long").alias("token_collisions")
    )
    return (
        joined.join(direct, "nation")
        .crossJoin(F.broadcast(collisions))
        .select(
            "nation",
            "n_orders",
            "revenue_cents",
            F.when((F.col("n_orders") == F.col("d_n")) & (F.col("revenue_cents") == F.col("d_rev")), 1)
            .otherwise(0)
            .cast("long")
            .alias("join_preserved"),
            "token_collisions",
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# J — joins (SURVEY §2.3): the reference uses a single inner equi-join
# (notebooks/00_prepare_data.py:57) + a count-based integrity audit
# (:117-120); ours exposes the full join-type matrix.
# ---------------------------------------------------------------------------


@register(
    "j1_inner_join_using",
    """
    SELECT s_nationkey AS nationkey, s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    """,
)
def j1_inner_join_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: inner equi-join with USING semantics — key deduplicated in the
    output (reference: notebooks/00_prepare_data.py:57). Dimension side
    broadcast: zero shuffle at any scale."""
    s = t(spark, sf_dir, "supplier").withColumnRenamed("s_nationkey", "nationkey")
    n = t(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "nationkey")
    return s.join(F.broadcast(n), "nationkey").select("nationkey", "s_suppkey", "s_name", "n_name")


@register(
    "j2_anti_join_audit",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def j2_anti_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: join-integrity audit via anti-join — returns the actual
    unmatched rows instead of the reference's three count() jobs
    (notebooks/00_prepare_data.py:117-120)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "j3_left_outer",
    "SELECT c_custkey, o_orderkey FROM customer LEFT JOIN orders ON c_custkey = o_custkey",
)
def j3_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select("c_custkey", "o_orderkey")


@register(
    "j3_right_outer",
    "SELECT c_custkey, o_orderkey FROM orders RIGHT JOIN customer ON o_custkey = c_custkey",
)
def j3_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select("c_custkey", "o_orderkey")


@register(
    "j3_full_outer",
    """
    SELECT c_custkey, c_nationkey, s_suppkey, s_nationkey
    FROM customer FULL JOIN supplier ON c_nationkey = s_nationkey
    """,
)
def j3_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    return c.join(s, c.c_nationkey == s.s_nationkey, "full").select(
        "c_custkey", "c_nationkey", "s_suppkey", "s_nationkey"
    )


@register(
    "j3_left_semi",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def j3_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_mktsegment")


@register("j3_cross", "SELECT r_name, n_name FROM region CROSS JOIN nation")
def j3_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "j3_broadcast_dim",
    """
    SELECT n_name, COUNT(*) AS n_customers,
           ROUND(SUM(c_acctbal), 2) AS total_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def j3_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join of a dimension table: the fact side
    never shuffles for the join (tests assert BroadcastHashJoin in the
    plan)."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"))
    )


@register(
    "j4_null_safe_join",
    """
    WITH keyed AS (
        SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS status_key FROM orders
    ),
    dim(status_key, label) AS (
        VALUES ('F', 'finished'), ('P', 'partial'), (NULL, 'open')
    )
    SELECT o_orderkey, d.label
    FROM keyed k JOIN dim d ON k.status_key IS NOT DISTINCT FROM d.status_key
    ORDER BY o_orderkey
    """,
)
def j4_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys
    match NULL dim rows instead of dropping out — the dimension-decode
    pattern where 'unknown' is itself a category. eqNullSafe keeps the
    join a broadcast hash join (null-safe equality is still an
    equi-key), not a nested loop."""
    keyed = t(spark, sf_dir, "orders").select(
        "o_orderkey", F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_key")
    )
    dim = spark.createDataFrame(
        [("F", "finished"), ("P", "partial"), (None, "open")],
        T.StructType(
            [
                T.StructField("status_key", T.StringType(), True),
                T.StructField("label", T.StringType(), True),
            ]
        ),
    )
    return (
        keyed.join(F.broadcast(dim), keyed.status_key.eqNullSafe(dim.status_key))
        .select("o_orderkey", "label")
        .orderBy("o_orderkey")
    )


@register(
    "j5_fuzzy_levenshtein_join",
    """
    WITH canonical AS (
        SELECT DISTINCT source FROM documents
    ),
    dirty AS (
        -- deterministic 'typo feed': capitalized + trailing junk
        SELECT UPPER(SUBSTRING(source, 1, 1)) || SUBSTRING(source, 2) || 'x' AS dirty_name,
               source AS true_source
        FROM canonical
    )
    SELECT d.dirty_name, c.source AS matched_source,
           CAST(LEVENSHTEIN(LOWER(d.dirty_name), c.source) AS INTEGER) AS edit_dist,
           (c.source = d.true_source) AS correct_match
    FROM dirty d
    JOIN canonical c
      ON REGEXP_EXTRACT(d.dirty_name, '([0-9]+)', 1) = REGEXP_EXTRACT(c.source, '([0-9]+)', 1)
     AND LEVENSHTEIN(LOWER(d.dirty_name), c.source) <= 2
    ORDER BY dirty_name, matched_source
    """,
)
def j5_fuzzy_levenshtein_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: entity resolution as a BLOCKED fuzzy join — equi-join on a
    cheap normalized blocking key (the numeric suffix), residual
    levenshtein ≤ 2 inside each block. The blocking key keeps the plan
    a hash join with a residual filter; an unblocked fuzzy join is a
    cartesian O(n·m) levenshtein sweep, which is exactly what this
    operator exists to avoid at 100 TB (block on soundex/prefix/
    normalized keys, compare only within blocks)."""
    canonical = t(spark, sf_dir, "documents").select("source").distinct()
    dirty = canonical.select(
        F.concat(
            F.upper(F.substring("source", 1, 1)),
            F.expr("substring(source, 2)"),
            F.lit("x"),
        ).alias("dirty_name"),
        F.col("source").alias("true_source"),
    )
    c = canonical.alias("c")
    d = dirty.alias("d")
    block = F.regexp_extract(F.col("d.dirty_name"), "([0-9]+)", 1) == F.regexp_extract(
        F.col("c.source"), "([0-9]+)", 1
    )
    dist = F.levenshtein(F.lower(F.col("d.dirty_name")), F.col("c.source"))
    return (
        d.join(c, block & (dist <= 2))
        .select(
            F.col("d.dirty_name").alias("dirty_name"),
            F.col("c.source").alias("matched_source"),
            dist.cast("int").alias("edit_dist"),
            (F.col("c.source") == F.col("d.true_source")).alias("correct_match"),
        )
        .orderBy("dirty_name", "matched_source")
    )


@register(
    "j6_spatial_grid_join",
    """
    WITH c AS (
        SELECT c_custkey,
               -30.0 + (c_custkey * 7919 % 60000) / 1000.0 AS lat,
               -60.0 + (c_custkey * 104729 % 120000) / 1000.0 AS lon
        FROM customer
    ),
    s AS (
        SELECT s_suppkey,
               -30.0 + (s_suppkey * 7919 % 60000) / 1000.0 AS lat,
               -60.0 + (s_suppkey * 104729 % 120000) / 1000.0 AS lon
        FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           (c.lat - s.lat) * (c.lat - s.lat) + (c.lon - s.lon) * (c.lon - s.lon) AS dist2
    FROM c, s
    WHERE (c.lat - s.lat) * (c.lat - s.lat) + (c.lon - s.lon) * (c.lon - s.lon) <= 4.0
    ORDER BY c.c_custkey, s.s_suppkey
    """,
)
def j6_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: distributed spatial proximity join via grid binning — bin
    both sides into 2-degree cells (cell size >= radius), explode the
    SMALL side into its 3x3 neighbor cells, broadcast-equi-join on the
    cell key, then apply the exact distance predicate as a residual
    filter. This turns an O(n*m) cross product into an equi-join that
    only compares points in adjacent cells — the standard shape for
    point-radius joins at 100 TB (the oracle IS the brute-force cross
    join, proving the grid loses no pairs). Coordinates derive from
    keys by pure integer modular arithmetic and distance is squared
    euclidean (add/mul only) — bit-identical cross-engine with no
    trig/libm variance; the reference's haversine (F3) composes on top
    for true great-circle radii."""
    cell = 2.0
    def with_coords(df: DataFrame, key: str) -> DataFrame:
        return df.select(
            key,
            (F.lit(-30.0) + (F.col(key) * 7919 % 60000) / 1000.0).alias("lat"),
            (F.lit(-60.0) + (F.col(key) * 104729 % 120000) / 1000.0).alias("lon"),
        ).withColumns(
            {"cx": F.floor(F.col("lat") / cell), "cy": F.floor(F.col("lon") / cell)}
        )

    c = with_coords(t(spark, sf_dir, "customer"), "c_custkey")
    s = with_coords(t(spark, sf_dir, "supplier"), "s_suppkey")
    offsets = F.expr("explode(flatten(transform(sequence(-1,1), dx -> transform(sequence(-1,1), dy -> struct(dx, dy)))))")
    s9 = s.select("s_suppkey", F.col("lat").alias("s_lat"), F.col("lon").alias("s_lon"),
                  "cx", "cy", offsets.alias("o")).select(
        "s_suppkey", "s_lat", "s_lon",
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        (F.col("cy") + F.col("o.dy")).alias("cy"),
    )
    dist2 = (F.col("lat") - F.col("s_lat")) ** 2 + (F.col("lon") - F.col("s_lon")) ** 2
    return (
        c.join(F.broadcast(s9), ["cx", "cy"])
        .select("c_custkey", "s_suppkey", dist2.alias("dist2"))
        .filter(F.col("dist2") <= cell * cell)
        .orderBy("c_custkey", "s_suppkey")
    )


_SQL_LATERAL_TOPK = """
    SELECT n_name, t.c_name, t.c_acctbal
    FROM {nation},
    LATERAL (
        SELECT c_name, c_acctbal
        FROM {customer}
        WHERE c_nationkey = n_nationkey
        ORDER BY c_acctbal DESC, c_name
        LIMIT 2
    ) t
    ORDER BY n_name, c_acctbal DESC, c_name
"""


@register(
    "j7_lateral_topk",
    _SQL_LATERAL_TOPK.format(nation="nation", customer="customer"),
)
def j7_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: correlated LATERAL subquery join (top-2 customers per
    nation) — the SQL-standard per-row subquery surface (Spark >= 3.2,
    DuckDB native; identical text both engines). Catalyst rewrites the
    correlated limit into a ranked window under the hood, so the
    physical plan is the same distributed top-k-per-group as o3, not
    25 sequential probes — which is why the form survives scale-up."""
    t(spark, sf_dir, "nation").createOrReplaceTempView("_sql_lat_nation")
    t(spark, sf_dir, "customer").createOrReplaceTempView("_sql_lat_customer")
    return spark.sql(
        _SQL_LATERAL_TOPK.format(nation="_sql_lat_nation", customer="_sql_lat_customer")
    )


@register(
    "j8_or_join_rewrite",
    """
    WITH pairs AS (
        SELECT DISTINCT c.c_custkey, s.s_suppkey
        FROM customer c JOIN supplier s
          ON c.c_nationkey = s.s_nationkey
          OR CAST(FLOOR(c.c_acctbal / 500) AS BIGINT) = CAST(FLOOR(s.s_acctbal / 500) AS BIGINT)
        WHERE c.c_custkey < 100
    )
    SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_related
    FROM pairs GROUP BY c_custkey ORDER BY c_custkey
    """,
)
def j8_or_join_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: disjunctive-predicate join, rewritten — `ON a = b OR c = d`
    cannot hash-partition (no single key), so engines fall back to a
    nested-loop scan: O(n*m) and a guaranteed 100 TB outage. The
    standard rewrite: UNION of the two equi-joins (each
    hash-partitionable) + DISTINCT to kill the rows matching both arms.
    The oracle states the naive OR join (DuckDB can afford it at
    sf0.01); the Spark side runs the rewrite — identical results,
    scalable plan."""
    c = t(spark, sf_dir, "customer").where(F.col("c_custkey") < 100).select(
        "c_custkey", "c_nationkey", F.floor(F.col("c_acctbal") / 500).cast("bigint").alias("c_bal")
    )
    s = t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", F.floor(F.col("s_acctbal") / 500).cast("bigint").alias("s_bal")
    )
    arm1 = c.join(s, c.c_nationkey == s.s_nationkey).select("c_custkey", "s_suppkey")
    arm2 = c.join(s, c.c_bal == s.s_bal).select("c_custkey", "s_suppkey")
    pairs = arm1.unionAll(arm2).distinct()
    return (
        pairs.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_related"))
        .orderBy("c_custkey")
    )


# --- Bloom-filter semi-join pruning ----------------------------------------
#
# The 100 TB pattern Spark's own runtime row-group filtering implements
# (spark.sql.optimizer.runtime.bloomFilter.enabled): build a compact
# Bloom filter over the small side's join keys, broadcast it, and drop
# non-matching fact rows BEFORE the shuffle. Here the filter is built
# with engine-portable arithmetic (two affine md5-prefix hashes over
# 2^16 bits packed into 1024 BIGINT lanes via bit_or), so DuckDB
# replays the exact same bit array and the false-positive accounting
# hash-compares. Both bit indexes are lanes of ONE md5-prefix hash
# (dedup.lane_hash): the md5 is computed once per key. reference has
# no analogue; this is pure scale machinery the engine needs at 100 TB.

_BLOOM_BITS = 1 << 16
_BLOOM_H_SQL = "(('0x' || SUBSTR(MD5(CAST({e} AS VARCHAR)), 1, 8))::BIGINT)"


@register(
    "j10_bloom_join_prune",
    f"""
    WITH keys AS (
        SELECT DISTINCT o_orderkey AS k
        FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    keyh AS (
        SELECT {_BLOOM_H_SQL.format(e='k')} AS h FROM keys
    ),
    bits AS (
        SELECT {lane_hash_sql('h', 0, _BLOOM_BITS)} AS b FROM keyh
        UNION ALL
        SELECT {lane_hash_sql('h', 1, _BLOOM_BITS)} AS b FROM keyh
    ),
    bloom AS (
        SELECT b // 64 AS lane, BIT_OR({bit_sql('b % 64')}) AS lanebits
        FROM bits GROUP BY 1
    ),
    probes AS (
        SELECT l_orderkey,
               {lane_hash_sql('h', 0, _BLOOM_BITS)} AS b0,
               {lane_hash_sql('h', 1, _BLOOM_BITS)} AS b1
        FROM (SELECT l_orderkey, {_BLOOM_H_SQL.format(e='l_orderkey')} AS h FROM lineitem)
    ),
    candidates AS (
        SELECT p.l_orderkey
        FROM probes p
        JOIN bloom m0 ON m0.lane = p.b0 // 64
        JOIN bloom m1 ON m1.lane = p.b1 // 64
        WHERE (m0.lanebits & ({bit_sql('p.b0 % 64')})) <> 0
          AND (m1.lanebits & ({bit_sql('p.b1 % 64')})) <> 0
    ),
    stats AS (
        SELECT CAST((SELECT COUNT(*) FROM keys) AS BIGINT) AS n_keys,
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_probes,
               CAST((SELECT COUNT(*) FROM candidates) AS BIGINT) AS n_candidates,
               CAST((SELECT COUNT(*) FROM candidates c JOIN keys ON keys.k = c.l_orderkey)
                    AS BIGINT) AS n_matched
    )
    SELECT n_keys, n_probes, n_candidates, n_matched,
           n_candidates - n_matched AS n_false_pos,
           CAST(FLOOR((n_candidates - n_matched) * 1e6 /
                      GREATEST(n_probes - n_matched, 1)) AS BIGINT) AS fp_rate_micro
    FROM stats
    """,
)
def j10_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: Bloom-filter semi-join pruning — build a 2^16-bit Bloom
    filter (two affine md5-prefix hashes, bits packed into 1024 BIGINT
    lanes by bit_or) over the urgent orders' keys, broadcast it, and
    pre-filter lineitem before the real join would shuffle it. Reports
    the pruning ledger: probe count, Bloom-passed candidates, exact
    matches, false positives, and the realized FP rate in micros.

    Scale shape: the filter is <= 1024 rows regardless of key count —
    a broadcast, never a shuffle; each probe joins the broadcast lane
    table twice (BroadcastHashJoin) and the fact table is reduced
    BEFORE any wide operation. This is the manual form of Spark's
    runtime bloomFilter rewrite, with portable math so the oracle can
    replay the exact bit array."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    # the key set feeds the filter build, the exact-match flag AND the
    # ledger count — cache it once (bounded, see cache_once contract)
    keys = cache_once(
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    keyh = keys.select(portable_hash32(F.col("k").cast("string")).alias("h"))
    bits = keyh.select(lane_hash(F.col("h"), 0, _BLOOM_BITS).alias("b")).unionAll(
        keyh.select(lane_hash(F.col("h"), 1, _BLOOM_BITS).alias("b"))
    )
    bloom = bits.groupBy((F.col("b") / 64).cast("long").alias("lane")).agg(
        F.bit_or(F.expr("shiftleft(1L, CAST(b % 64 AS INT))")).alias("lanebits")
    )
    probes = li.select(
        "l_orderkey", portable_hash32(F.col("l_orderkey").cast("string")).alias("h")
    ).select(
        "l_orderkey",
        lane_hash(F.col("h"), 0, _BLOOM_BITS).alias("b0"),
        lane_hash(F.col("h"), 1, _BLOOM_BITS).alias("b1"),
    )
    m0 = bloom.select(F.col("lane").alias("lane0"), F.col("lanebits").alias("bits0"))
    m1 = bloom.select(F.col("lane").alias("lane1"), F.col("lanebits").alias("bits1"))
    candidates = (
        probes.join(F.broadcast(m0), (F.col("b0") / 64).cast("long") == F.col("lane0"))
        .join(F.broadcast(m1), (F.col("b1") / 64).cast("long") == F.col("lane1"))
        .filter(
            (F.col("bits0").bitwiseAND(F.expr("shiftleft(1L, CAST(b0 % 64 AS INT))")) != 0)
            & (F.col("bits1").bitwiseAND(F.expr("shiftleft(1L, CAST(b1 % 64 AS INT))")) != 0)
        )
        .select("l_orderkey")
    )
    n_keys = keys.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
    n_probes = li.agg(F.count(F.lit(1)).cast("bigint").alias("n_probes"))
    # one pass over the candidate set yields BOTH ledger counts: flag
    # each candidate against the key set and aggregate, instead of
    # counting candidates twice. No forced broadcast here — the key
    # set grows with the dim side, so Catalyst/AQE picks broadcast vs
    # shuffle by its actual size (only the <=1024-row lane table is
    # unconditionally broadcast-able)
    cand_stats = (
        candidates.join(
            keys.withColumn("m", F.lit(1)),
            candidates.l_orderkey == F.col("k"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(F.when(F.col("m") == 1, 1).otherwise(0)).cast("bigint").alias("n_matched"),
        )
    )
    out = n_keys.crossJoin(F.broadcast(n_probes)).crossJoin(F.broadcast(cand_stats))
    return out.select(
        "n_keys",
        "n_probes",
        "n_candidates",
        "n_matched",
        (F.col("n_candidates") - F.col("n_matched")).alias("n_false_pos"),
        F.floor(
            (F.col("n_candidates") - F.col("n_matched"))
            * 1e6
            / F.greatest(F.col("n_probes") - F.col("n_matched"), F.lit(1))
        )
        .cast("bigint")
        .alias("fp_rate_micro"),
    )


_ALLEN_CASE = """
    CASE
        WHEN ae < bs THEN 'before'
        WHEN as_ > be THEN 'after'
        WHEN as_ = bs AND ae = be THEN 'equals'
        WHEN ae = bs THEN 'meets'
        WHEN as_ = be THEN 'met_by'
        WHEN as_ = bs AND ae < be THEN 'starts'
        WHEN as_ = bs AND ae > be THEN 'started_by'
        WHEN ae = be AND as_ > bs THEN 'finishes'
        WHEN ae = be AND as_ < bs THEN 'finished_by'
        WHEN as_ > bs AND ae < be THEN 'during'
        WHEN as_ < bs AND ae > be THEN 'contains'
        WHEN as_ < bs AND ae > bs AND ae < be THEN 'overlaps'
        ELSE 'overlapped_by'
    END
"""


@register(
    "j13_allen_interval_algebra",
    f"""
    WITH iv AS (
        SELECT user_id, event_type,
               EPOCH_US(MIN(ts)) AS s, EPOCH_US(MAX(ts)) AS e
        FROM events GROUP BY user_id, event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.s AS as_, a.e AS ae, b.s AS bs, b.e AS be
        FROM iv a JOIN iv b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
    )
    SELECT type_a, type_b, {_ALLEN_CASE} AS relation,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY type_a, type_b, relation
    ORDER BY type_a, type_b, relation
    """,
)
def j13_allen_interval_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13: Allen's interval algebra — the COMPLETE temporal-relation
    classification (all 13 relations: before/meets/overlaps/starts/
    during/finishes, inverses, equals) that the asof/range/interval
    joins (j9/j12/temporal.py) each hard-code one slice of. Per user,
    each event type's activity span [min ts, max ts] is an interval;
    every type pair is classified with ONE branch-ordered CASE over
    exact epoch-microsecond integers (the SAME SQL text runs on both
    engines — equality cases are decided before containment, so the
    cascade is total and unambiguous), then the corpus rolls up to
    (type_a, type_b, relation) counts — the temporal-profile
    fingerprint of the event stream.

    Plan: one (user, type) agg, one per-user self-join (bounded: 5
    types -> 10 pairs per user), one rollup — all partial-agg
    shuffles keyed by user then by the 75-value rollup key."""
    ev = t(spark, sf_dir, "events")
    iv = ev.groupBy("user_id", "event_type").agg(
        F.unix_micros(F.min("ts")).alias("s"), F.unix_micros(F.max("ts")).alias("e")
    )
    a = iv.select(F.col("user_id"), F.col("event_type").alias("type_a"), F.col("s").alias("as_"), F.col("e").alias("ae"))
    b = iv.select(F.col("user_id").alias("ub"), F.col("event_type").alias("type_b"), F.col("s").alias("bs"), F.col("e").alias("be"))
    pairs = a.join(b, (a.user_id == b.ub) & (F.col("type_a") < F.col("type_b")))
    return (
        pairs.select("type_a", "type_b", F.expr(_ALLEN_CASE).alias("relation"))
        .groupBy("type_a", "type_b", "relation")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("type_a", "type_b", "relation")
    )


# ---------------------------------------------------------------------------
# W — window functions (SURVEY §2.5; none executed in the reference —
# percent_rank imported-unused at src/features/feature_engineering.py:6)
# ---------------------------------------------------------------------------


@register(
    "w1_ranking",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER()   OVER w AS BIGINT) AS rn,
           CAST(RANK()         OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK()   OVER w AS BIGINT) AS drnk,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rnk,
           CAST(NTILE(4)       OVER w AS BIGINT) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def w1_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@register(
    "w2_lag_lead",
    """
    SELECT user_id, event_id,
           LAG(value, 1)  OVER w AS prev_value,
           LEAD(value, 1) OVER w AS next_value,
           FIRST_VALUE(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_value,
           LAST_VALUE(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w2_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 1).over(w).alias("next_value"),
        F.first("value").over(wfull).alias("first_value"),
        F.last("value").over(wfull).alias("last_value"),
    )


@register(
    "w3_frame_aggregates",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(SUM(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity, l_extendedprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty,
           ROUND(AVG(l_extendedprice) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity, l_extendedprice
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg_price
    FROM lineitem
    """,
)
def w3_frame_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (l_orderkey, l_linenumber) is NOT unique in the testdata — the
    # frame order tiebreaks on the aggregated columns so the running
    # values are deterministic across engines.
    order = [F.col("l_linenumber"), F.col("l_quantity"), F.col("l_extendedprice")]
    wrun = Window.partitionBy("l_orderkey").orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wmov = Window.partitionBy("l_orderkey").orderBy(*order).rowsBetween(-2, Window.currentRow)
    return t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_quantity").over(wrun), 2).alias("running_qty"),
        F.round(F.avg("l_extendedprice").over(wmov), 4).alias("moving_avg_price"),
    )


@register(
    "w4_value_windows",
    """
    SELECT o_orderkey, o_custkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           NTH_VALUE(o_totalprice, 2) OVER w AS second_price,
           ROUND(CUME_DIST() OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey), 6) AS price_cume_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_orderkey
    """,
)
def w4_value_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: value-addressing window functions (first_value/nth_value
    over an explicit full frame, cume_dist) completing the W1-W3
    ranking/analytic/frame families. o_orderkey tiebreaks make every
    value deterministic."""
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders")
    wf = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wo = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(wf).alias("first_price"),
        F.nth_value("o_totalprice", 2).over(wf).alias("second_price"),
        F.round(F.cume_dist().over(wo), 6).alias("price_cume_dist"),
    ).orderBy("o_orderkey")


@register(
    "w5_distribution_ranks",
    """
    SELECT c_custkey, c_nationkey,
           CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
           CAST(FLOOR(PERCENT_RANK() OVER w * 1000000) AS BIGINT) AS pct_rank_micro,
           CAST(FLOOR(CUME_DIST() OVER w * 1000000) AS BIGINT) AS cume_micro
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    ORDER BY c_custkey
    """,
)
def w5_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: distribution-rank window functions — ntile (equal-count
    buckets), percent_rank ((rank-1)/(n-1)) and cume_dist (fraction of
    peers at-or-below) per nation over account balance. These are the
    ranking functions a16/a23's histogram queries approximate
    globally, here in their windowed per-group form (customer scoring,
    per-segment percentile features). The order key carries a
    c_custkey tiebreak so every rank is total and deterministic; the
    two fractional ranks are single IEEE divisions of exact integers —
    bit-identical across engines — reported as FLOOR-scaled micro
    units, because ROUND(x, 6) differs between engines exactly at
    half-boundaries like 41/640 = .0640625 (bitten at sf0.1) while
    FLOOR of the identical double cannot. One shuffle on the partition key,
    group-size-bounded state — the standard scalable window."""
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return (
        t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_nationkey",
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
            F.floor(F.percent_rank().over(w) * 1000000).cast("bigint").alias("pct_rank_micro"),
            F.floor(F.cume_dist().over(w) * 1000000).cast("bigint").alias("cume_micro"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# O — sorts / limits / top-k (SURVEY §2.6)
# ---------------------------------------------------------------------------


@register(
    "o1_global_sort_desc",
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey",
)
def o1_global_sort_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: range-partitioned distributed sort (reference:
    notebooks/00:114, notebooks/01:151,165)."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    )


@register(
    "o2_topk",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10
    """,
)
def o2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: top-k via orderBy+limit → TakeOrderedAndProject (per-partition
    heap + driver merge of k rows, never a full sort). Total order via
    unique tiebreakers so the k rows are deterministic."""
    return (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(10)
    )


@register(
    "o3_distributed_topk_per_group",
    """
    SELECT c_mktsegment, c_custkey, c_acctbal FROM customer
    QUALIFY ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) <= 3
    """,
)
def o3_distributed_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: distributed replacement for the reference's driver-side pandas
    sort (notebooks/01:89) — top-3 per group via a ranking window."""
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        t(spark, sf_dir, "customer")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal")
    )


# ---------------------------------------------------------------------------
# SET — set operations (SURVEY §2.7)
# ---------------------------------------------------------------------------


@register(
    "set_union_all",
    """
    SELECT o_orderkey, 'big' AS src FROM orders WHERE o_totalprice > 300000
    UNION ALL
    SELECT o_orderkey, 'urgent' AS src FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 300000).select("o_orderkey", F.lit("big").alias("src"))
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey", F.lit("urgent").alias("src"))
    return big.union(urgent)


@register(
    "set_union_by_name",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    UNION ALL
    SELECT o_orderkey, o_totalprice FROM orders
    """,
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName resolves by column name, not position — the two inputs
    here have swapped column order."""
    o = t(spark, sf_dir, "orders")
    a = o.select("o_orderkey", "o_totalprice")
    b = o.select("o_totalprice", "o_orderkey")
    return a.unionByName(b)


@register(
    "set_intersect",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    f_cust = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f_cust.intersect(o_cust)


@register(
    "set_except",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.subtract(o)  # EXCEPT DISTINCT semantics, matching SQL EXCEPT


@register(
    "set_drop_duplicates",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def set_drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").dropDuplicates()


@register(
    "set_intersect_all",
    """
    SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT ALL
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
    ORDER BY suppkey
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET2: multiset intersection — keeps min(multiplicity) copies per
    value, unlike the distinct-only intersect already covered. Planned
    as a single hash aggregate over both branches (count per side),
    not a join."""
    li = t(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("suppkey"))
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_suppkey").alias("suppkey"))
    return r.intersectAll(a).orderBy("suppkey")


@register(
    "set_except_all",
    """
    SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'R'
    EXCEPT ALL
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
    ORDER BY suppkey
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET3: multiset difference — subtracts per-value multiplicities
    (max(count_left - count_right, 0) copies survive)."""
    li = t(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("suppkey"))
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_suppkey").alias("suppkey"))
    return r.exceptAll(a).orderBy("suppkey")


@register(
    "f11_pandas_udaf_weighted_avg",
    """
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4) AS weighted_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def f11_pandas_udaf_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: custom aggregate via a GROUPED_AGG pandas_udf (Arrow-batched
    UDAF) — quantity-weighted mean price per return flag. The vectorized
    numpy body runs once per group partition; Spark handles the shuffle.
    This is the UDAF escape hatch pattern; the oracle states the same
    aggregate in SQL. (Ratio-of-sums is division-last, so the 4-decimal
    round is stable across engines.)"""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType passed explicitly: this module uses `from __future__
    # import annotations`, which stringifies signature annotations and
    # breaks pandas_udf's type inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def weighted_avg(price, qty):
        return float((price * qty).sum() / qty.sum())

    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(weighted_avg("l_extendedprice", "l_quantity"), 4).alias("weighted_avg_price"))
        .orderBy("l_returnflag")
    )


# --- J15: point-in-polygon spatial join (exact integer ray casting) ----------

_PIP_POLYGONS = [
    # pid, vertex list (integer grid 0..999); one convex, one concave L
    (0, [(100, 100), (600, 150), (650, 550), (150, 500)]),
    (1, [(500, 500), (950, 500), (950, 950), (700, 950), (700, 700), (500, 700)]),
]


def _pip_edges_sql() -> str:
    rows = []
    for pid, verts in _PIP_POLYGONS:
        n = len(verts)
        for i, (x1, y1) in enumerate(verts):
            x2, y2 = verts[(i + 1) % n]
            rows.append(f"({pid}, {x1}, {y1}, {x2}, {y2})")
    return f"(VALUES {', '.join(rows)}) AS e(pid, x1, y1, x2, y2)"


@register(
    "j15_point_in_polygon",
    f"""
    WITH pts AS (
        SELECT c_custkey AS pk,
               (c_custkey * 7919) % 1000 AS px,
               (c_custkey * 104729) % 1000 AS py
        FROM customer
    ),
    crossings AS (
        SELECT p.pk, e.pid,
               SUM(CASE WHEN (e.y1 > p.py) <> (e.y2 > p.py)
                         AND (CASE WHEN e.y2 - e.y1 > 0
                                   THEN (p.px - e.x1) * (e.y2 - e.y1)
                                        < (e.x2 - e.x1) * (p.py - e.y1)
                                   ELSE (p.px - e.x1) * (e.y2 - e.y1)
                                        > (e.x2 - e.x1) * (p.py - e.y1) END)
                        THEN 1 ELSE 0 END) AS n_cross
        FROM pts p JOIN {_pip_edges_sql()} ON TRUE
        GROUP BY p.pk, e.pid
    )
    SELECT CAST(pid AS BIGINT) AS pid,
           CAST(SUM(CASE WHEN n_cross % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inside,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(MIN(CASE WHEN n_cross % 2 = 1 THEN pk END) AS BIGINT)
             AS first_inside_key
    FROM crossings GROUP BY pid ORDER BY pid
    """,
)
def j15_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J15: point-in-polygon containment join — the geofencing /
    region-assignment primitive beyond j6's grid join, via the
    even-odd ray-casting rule done in EXACT integer arithmetic: the
    usual slope division is replaced by a cross-multiplied comparison
    whose direction flips with sign(dy), so no float ever enters and
    both engines count identical crossings (boundary-degenerate cases
    land deterministically on the same side). Points are a key-derived
    integer grid; polygons (one convex quad, one concave hexagon — the
    concave case is why even-odd counting is needed at all) fan out as
    a constant 10-edge broadcast. At 100 TB you'd prefilter with j6's
    grid cells (bbox -> candidate polygons) and run exactly this exact
    test on the survivors; this query IS that verification stage."""
    c = t(spark, sf_dir, "customer").select("c_custkey")
    pts = c.select(
        F.col("c_custkey").alias("pk"),
        ((F.col("c_custkey") * 7919) % 1000).alias("px"),
        ((F.col("c_custkey") * 104729) % 1000).alias("py"),
    )
    idx = (F.col("id") + 1).cast("int")
    flat = []
    for pid, verts in _PIP_POLYGONS:
        n = len(verts)
        for i, (x1, y1) in enumerate(verts):
            x2, y2 = verts[(i + 1) % n]
            flat.append((pid, x1, y1, x2, y2))
    edges = spark.range(len(flat)).select(
        *[
            F.element_at(F.array(*[F.lit(r[j]) for r in flat]), idx).alias(nm)
            for j, nm in enumerate(("pid", "x1", "y1", "x2", "y2"))
        ]
    )
    lhs = (F.col("px") - F.col("x1")) * (F.col("y2") - F.col("y1"))
    rhs = (F.col("x2") - F.col("x1")) * (F.col("py") - F.col("y1"))
    crossing = (
        ((F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py")))
        & F.when(F.col("y2") - F.col("y1") > 0, lhs < rhs).otherwise(lhs > rhs)
    )
    crossings = (
        pts.crossJoin(F.broadcast(edges))
        .groupBy("pk", "pid")
        .agg(F.sum(F.when(crossing, 1).otherwise(0)).alias("n_cross"))
    )
    return (
        crossings.groupBy("pid")
        .agg(
            F.sum(F.when(F.col("n_cross") % 2 == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_inside"),
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.min(F.when(F.col("n_cross") % 2 == 1, F.col("pk")))
            .cast("bigint")
            .alias("first_inside_key"),
        )
        .select(F.col("pid").cast("bigint").alias("pid"), "n_inside", "n_points", "first_inside_key")
        .orderBy("pid")
    )


# --- J16: maximum concurrent intervals (delta-encoded stabbing) ---------------


@register(
    "j16_max_concurrent_intervals",
    """
    WITH iv AS (
        SELECT user_id,
               epoch_us(ts) AS s,
               epoch_us(ts) + 1800 * 1000000 AS e
        FROM events
    ),
    deltas AS (
        SELECT user_id, s AS t, 1 AS d, 0 AS tie FROM iv
        UNION ALL
        SELECT user_id, e AS t, -1 AS d, 1 AS tie FROM iv
    ),
    runs AS (
        SELECT user_id,
               SUM(d) OVER (PARTITION BY user_id ORDER BY t, tie, d
                            ROWS UNBOUNDED PRECEDING) AS conc
        FROM deltas
    )
    SELECT user_id,
           CAST(MAX(conc) AS BIGINT) AS max_concurrent,
           CAST(COUNT(*) // 2 AS BIGINT) AS n_intervals
    FROM runs GROUP BY user_id ORDER BY user_id
    """,
)
def j16_max_concurrent_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J16: maximum interval concurrency (the stabbing-depth /
    room-booking classic) via DELTA ENCODING — each 30-minute activity
    interval contributes a +1 at its start and a -1 at its end, and
    peak concurrency is the max running sum over the ordered deltas.
    This shape replaces the quadratic interval-overlap self-join
    (j9's job) when only DEPTH is needed: 2n rows, one partitioned
    window, no join at all. Ends sort AFTER coincident starts (tie
    key) so a touching pair counts as overlapping — stated, and
    identical on both engines via exact integer epoch-micros. Scale:
    per-user windows (parallelism = users); a global concurrency
    profile would use the two-phase prefix-sum ledger instead."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + 1800 * 1_000_000).alias("e"),
    )
    deltas = iv.select(
        "user_id", F.col("s").alias("t"), F.lit(1).alias("d"), F.lit(0).alias("tie")
    ).unionByName(
        iv.select(
            "user_id", F.col("e").alias("t"), F.lit(-1).alias("d"), F.lit(1).alias("tie")
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "tie", "d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = deltas.select("user_id", F.sum("d").over(w).alias("conc"))
    return (
        runs.groupBy("user_id")
        .agg(
            F.max("conc").cast("bigint").alias("max_concurrent"),
            F.expr("CAST(count(*) DIV 2 AS BIGINT)").alias("n_intervals"),
        )
        .orderBy("user_id")
    )


@register(
    "ps1_pandas_api_groupby",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def ps1_pandas_api_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PS1: the pandas API on Spark (pyspark.pandas) — the third query
    surface next to the DataFrame DSL and SQL: pandas syntax
    (df.groupby().agg()) compiled onto the SAME distributed engine. A
    pandas-fluent user writes this; Catalyst plans it identically to
    a2/a4 (hash agg with partials — no driver materialization; the
    ps.DataFrame wraps the distributed frame lazily). Money in integer
    cents as everywhere."""
    import pyspark.pandas as ps

    o = t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    psdf = o.pandas_api()
    agg = psdf.groupby("o_orderpriority").agg(n=("cents", "count"), sum_cents=("cents", "sum"))
    # index_col materializes the group key from the ps index directly —
    # no reset_index + default-index warning on the to_spark boundary
    out = agg.to_spark(index_col="o_orderpriority")
    return out.select(
        "o_orderpriority",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
    ).orderBy("o_orderpriority")
