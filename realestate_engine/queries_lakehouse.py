"""Lakehouse-maintenance operators, the ``x*`` queries: retraction
IVM, CDC extract and apply, bitemporal as-of and SCD2 lookups,
late-dimension replay, compaction planning, Z-order clustering audit,
rendezvous sharding, salted skew joins, time-weighted averages and
largest-remainder allocation.

Engine-portable integer idioms throughout (md5-prefix hashes, integer
cents, FLOOR-scaled micros) so every value hash-compares vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from realestate_engine.dedup import portable_hash32
from realestate_engine.registry import iterate, register, t


@register(
    "x21_retraction_ivm",
    """
    WITH base AS (
        SELECT o_orderpriority, o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 5 <> 0
    ),
    deletes AS (
        SELECT * FROM base WHERE o_orderkey % 10 = 1
    ),
    inserts AS (
        SELECT o_orderpriority, o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 5 = 0
    ),
    state AS (
        SELECT o_orderpriority, SUM(cents) AS cents, CAST(COUNT(*) AS BIGINT) AS n,
               MIN(cents) AS min_cents
        FROM base GROUP BY 1
    ),
    delta AS (
        SELECT o_orderpriority, SUM(w * cents) AS cents, CAST(SUM(w) AS BIGINT) AS n
        FROM (
            SELECT o_orderpriority, cents, -1 AS w FROM deletes
            UNION ALL
            SELECT o_orderpriority, cents, 1 AS w FROM inserts
        )
        GROUP BY 1
    ),
    merged AS (
        SELECT o_orderpriority, SUM(cents) AS cents, SUM(n) AS n
        FROM (
            SELECT o_orderpriority, cents, n FROM state
            UNION ALL
            SELECT o_orderpriority, cents, n FROM delta
        )
        GROUP BY 1
    ),
    final_rows AS (
        SELECT o_orderpriority, cents FROM base
        WHERE o_orderkey % 10 <> 1
        UNION ALL
        SELECT o_orderpriority, cents FROM inserts
    ),
    direct AS (
        SELECT o_orderpriority, SUM(cents) AS cents, CAST(COUNT(*) AS BIGINT) AS n,
               MIN(cents) AS min_cents
        FROM final_rows GROUP BY 1
    ),
    min_hit AS (
        SELECT s.o_orderpriority,
               MAX(CASE WHEN d.cents = s.min_cents THEN 1 ELSE 0 END) AS hit
        FROM state s LEFT JOIN deletes d ON d.o_orderpriority = s.o_orderpriority
        GROUP BY 1
    )
    SELECT m.o_orderpriority,
           CAST(m.n AS BIGINT) AS n_orders,
           CAST(m.cents AS BIGINT) AS total_cents,
           (m.cents = d.cents AND m.n = d.n) AS matches_direct,
           CAST(d.min_cents AS BIGINT) AS min_cents,
           (h.hit = 1) AS min_recomputed
    FROM merged m
    JOIN direct d USING (o_orderpriority)
    JOIN min_hit h USING (o_orderpriority)
    ORDER BY o_orderpriority
    """,
)
def x21_retraction_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X21: incremental view maintenance UNDER DELETES — the case x8's
    insert-only merge can't handle. A CDC batch arrives as signed rows
    (+1 inserts, -1 retractions); SUM/COUNT state absorbs both by
    weighted re-aggregation of mergeable integer state — no base
    re-scan — and the plan carries its own proof (matches_direct
    compares the maintained state against a direct recompute of the
    post-CDC table). MIN is deliberately included as the
    NON-retractable aggregate: when a retracted row equals the stored
    group minimum the state can't answer, so the query surfaces
    min_recomputed per group and takes the recompute fallback for the
    min column only — exactly the split a production IVM pipeline
    makes (accumulator aggregates absorb deltas; extrema trigger
    per-group repair). All state is exact integer cents, so the merge
    is associative and the oracle replays it bit-for-bit."""
    o = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderpriority", "o_orderkey", cents.alias("cents")
    )
    deletes = base.filter(F.col("o_orderkey") % 10 == 1)
    inserts = o.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderpriority", "o_orderkey", cents.alias("cents")
    )
    state = base.groupBy("o_orderpriority").agg(
        F.sum("cents").alias("cents"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("cents").alias("min_cents"),
    )
    delta = (
        deletes.select("o_orderpriority", "cents", F.lit(-1).alias("w"))
        .unionByName(inserts.select("o_orderpriority", "cents", F.lit(1).alias("w")))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("cents"),
            F.sum("w").cast("bigint").alias("n"),
        )
    )
    merged = (
        state.select("o_orderpriority", "cents", "n")
        .unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("cents").alias("cents"), F.sum("n").alias("n"))
    )
    final_rows = base.filter(F.col("o_orderkey") % 10 != 1).unionByName(inserts)
    direct = final_rows.groupBy("o_orderpriority").agg(
        F.sum("cents").alias("d_cents"),
        F.count(F.lit(1)).cast("bigint").alias("d_n"),
        F.min("cents").alias("d_min"),
    )
    min_hit = (
        state.select("o_orderpriority", "min_cents")
        .join(
            deletes.select("o_orderpriority", F.col("cents").alias("del_cents")),
            "o_orderpriority",
            "left",
        )
        .groupBy("o_orderpriority")
        .agg(
            F.max(
                F.when(F.col("del_cents") == F.col("min_cents"), 1).otherwise(0)
            ).alias("hit")
        )
    )
    return (
        merged.join(direct, "o_orderpriority")
        .join(min_hit, "o_orderpriority")
        .select(
            "o_orderpriority",
            F.col("n").cast("bigint").alias("n_orders"),
            F.col("cents").cast("bigint").alias("total_cents"),
            ((F.col("cents") == F.col("d_cents")) & (F.col("n") == F.col("d_n"))).alias(
                "matches_direct"
            ),
            F.col("d_min").cast("bigint").alias("min_cents"),
            (F.col("hit") == 1).alias("min_recomputed"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "x22_cdc_extract",
    """
    WITH v1 AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    v2 AS (
        SELECT k,
               CASE WHEN k % 97 = 0 THEN cents + 1 ELSE cents END AS cents
        FROM v1 WHERE k % 89 <> 0
        UNION ALL
        SELECT k + 100000000 AS k, cents FROM v1 WHERE k % 101 = 0
    )
    SELECT COALESCE(v1.k, v2.k) AS k,
           CASE WHEN v1.k IS NULL THEN 'I'
                WHEN v2.k IS NULL THEN 'D'
                ELSE 'U' END AS op,
           v1.cents AS before_cents,
           v2.cents AS after_cents
    FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    WHERE v1.k IS NULL OR v2.k IS NULL OR v1.cents <> v2.cents
    ORDER BY k
    """,
)
def x22_cdc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X22: CDC EXTRACTION — diff two table snapshots into the
    insert/update/delete changelog that x20_cdc_apply consumes and
    dq12's Merkle diff locates: the full snapshot-diff path of an
    incremental pipeline (extract -> locate -> apply). v2 is a
    deterministic mutation of orders (every 97th key repriced, every
    89th deleted, every 101st re-inserted under a new key); the diff
    is ONE full outer join on the key with unchanged rows filtered
    out, so the changelog costs one co-partitioned shuffle regardless
    of how few rows changed. At 100 TB the join keys would be
    pre-bucketed (s24 idiom) or the diff scoped to the buckets dq12
    flagged — extract-on-flagged-buckets turns a full-table diff into
    a 64th of the work per mutated bucket."""
    o = t(spark, sf_dir, "orders")
    v1 = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    mutated = v1.filter(F.col("k") % 89 != 0).select(
        "k",
        F.when(F.col("k") % 97 == 0, F.col("cents") + 1).otherwise(F.col("cents")).alias("cents"),
    )
    inserted = v1.filter(F.col("k") % 101 == 0).select(
        (F.col("k") + 100_000_000).alias("k"), "cents"
    )
    v2 = mutated.unionByName(inserted)
    a = v1.alias("a")
    b = v2.alias("b")
    return (
        a.join(b, F.col("a.k") == F.col("b.k"), "full_outer")
        .filter(
            F.col("a.k").isNull()
            | F.col("b.k").isNull()
            | (F.col("a.cents") != F.col("b.cents"))
        )
        .select(
            F.coalesce(F.col("a.k"), F.col("b.k")).alias("k"),
            F.when(F.col("a.k").isNull(), "I")
            .when(F.col("b.k").isNull(), "D")
            .otherwise("U")
            .alias("op"),
            F.col("a.cents").alias("before_cents"),
            F.col("b.cents").alias("after_cents"),
        )
        .orderBy("k")
    )


@register(
    "x26_late_dimension_replay",
    """
    WITH dim_v1 AS (
        SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 10 <> 3
    ),
    facts AS (
        SELECT o_orderkey, o_custkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    first_pass AS (
        SELECT f.o_orderkey, f.o_custkey, f.cents, d.c_nationkey
        FROM facts f LEFT JOIN dim_v1 d ON d.c_custkey = f.o_custkey
    ),
    resolved_v1 AS (
        SELECT o_orderkey, c_nationkey, cents FROM first_pass WHERE c_nationkey IS NOT NULL
    ),
    parked AS (
        SELECT o_orderkey, o_custkey, cents FROM first_pass WHERE c_nationkey IS NULL
    ),
    replay AS (
        SELECT p.o_orderkey, c.c_nationkey, p.cents
        FROM parked p JOIN customer c ON c.c_custkey = p.o_custkey
    ),
    final AS (
        SELECT * FROM resolved_v1 UNION ALL SELECT * FROM replay
    ),
    direct AS (
        SELECT f.o_orderkey, c.c_nationkey, f.cents
        FROM facts f JOIN customer c ON c.c_custkey = f.o_custkey
    )
    SELECT CAST((SELECT COUNT(*) FROM facts) AS BIGINT) AS n_facts,
           CAST((SELECT COUNT(*) FROM parked) AS BIGINT) AS n_parked,
           CAST((SELECT COUNT(*) FROM replay) AS BIGINT) AS n_replayed,
           CAST((SELECT COUNT(*) FROM final) AS BIGINT) AS n_final,
           ((SELECT COUNT(*) FROM final) = (SELECT COUNT(*) FROM direct)
            AND (SELECT COALESCE(SUM(c_nationkey * cents), 0) FROM final)
                = (SELECT COALESCE(SUM(c_nationkey * cents), 0) FROM direct))
               AS replay_complete
    """,
)
def x26_late_dimension_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X26: LATE-ARRIVING DIMENSION handling — the pipeline pattern for
    facts that reference dim rows not yet ingested: join against the
    dim version available at load time (here v1 is missing every 10th
    customer), PARK the orphaned facts instead of dropping or
    null-filling them, and when the dim catches up REPLAY only the
    parked rows — never the resolved ones. The in-plan proof compares
    the union of first-pass hits + replayed rows against a direct join
    on the complete dim (row count AND a value checksum), so a replay
    that loses, duplicates, or mis-keys rows flips the hash-compared
    boolean. Cost: the replay join touches |parked| rows — at 100 TB
    that is the whole point (re-joining only the orphan fraction,
    not re-running the full fact join)."""
    c = t(spark, sf_dir, "customer")
    dim_v1 = c.filter(F.col("c_custkey") % 10 != 3).select("c_custkey", "c_nationkey")
    facts = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    first_pass = facts.join(
        F.broadcast(dim_v1), facts.o_custkey == dim_v1.c_custkey, "left"
    )
    resolved = first_pass.filter(F.col("c_nationkey").isNotNull()).select(
        "o_orderkey", "c_nationkey", "cents"
    )
    parked = first_pass.filter(F.col("c_nationkey").isNull()).select(
        "o_orderkey", "o_custkey", "cents"
    )
    replay = parked.join(
        F.broadcast(c.select(F.col("c_custkey").alias("k"), F.col("c_nationkey").alias("nk"))),
        parked.o_custkey == F.col("k"),
    ).select("o_orderkey", F.col("nk").alias("c_nationkey"), "cents")
    final = resolved.unionByName(replay)
    direct = facts.join(
        F.broadcast(c.select("c_custkey", "c_nationkey")),
        facts.o_custkey == F.col("c_custkey"),
    ).select("o_orderkey", "c_nationkey", "cents")

    def stats(df, label):
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias(f"n_{label}"),
            F.coalesce(F.sum(F.col("c_nationkey") * F.col("cents")), F.lit(0))
            .cast("bigint")
            .alias(f"sum_{label}"),
        )

    n_facts = facts.agg(F.count(F.lit(1)).cast("bigint").alias("n_facts"))
    n_parked = parked.agg(F.count(F.lit(1)).cast("bigint").alias("n_parked"))
    n_replay = replay.agg(F.count(F.lit(1)).cast("bigint").alias("n_replayed"))
    fin = stats(final, "final")
    dir_ = stats(direct, "direct")
    return (
        n_facts.crossJoin(F.broadcast(n_parked))
        .crossJoin(F.broadcast(n_replay))
        .crossJoin(F.broadcast(fin))
        .crossJoin(F.broadcast(dir_))
        .select(
            "n_facts",
            "n_parked",
            "n_replayed",
            "n_final",
            (
                (F.col("n_final") == F.col("n_direct"))
                & (F.col("sum_final") == F.col("sum_direct"))
            ).alias("replay_complete"),
        )
    )


@register(
    "x25_bitemporal_asof",
    """
    WITH versions AS (
        SELECT o_orderkey,
               o_orderdate AS valid_from,
               o_orderdate + INTERVAL 30 DAY AS valid_to,
               o_orderdate AS tx_from,
               o_orderdate + INTERVAL 10 DAY AS tx_to,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               1 AS version
        FROM orders
        UNION ALL
        SELECT o_orderkey,
               o_orderdate,
               o_orderdate + INTERVAL 30 DAY,
               o_orderdate + INTERVAL 10 DAY,
               NULL,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) + 100,
               2
        FROM orders
    ),
    belief AS (
        SELECT * FROM versions
        WHERE valid_from <= TIMESTAMP '1997-06-20'
          AND valid_to > TIMESTAMP '1997-06-20'
          AND tx_from <= TIMESTAMP '1997-07-01'
          AND (tx_to IS NULL OR tx_to > TIMESTAMP '1997-07-01')
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(SUM(CASE WHEN version = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
           CAST(SUM(CASE WHEN version = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_v2,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           (COUNT(*) = COUNT(DISTINCT o_orderkey)) AS one_version_per_key
    FROM belief
    """,
)
def x25_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X25: BITEMPORAL as-of — the two-axis time query SCD2 (x13, one
    axis) cannot answer: "what did we BELIEVE on 1997-07-01 (transaction
    time) the price valid on 1997-06-20 (valid time) was?". The ledger
    carries both intervals per version (v1 as loaded; v2 a correction
    recorded 10 days later, +100 cents, open transaction interval);
    the query is two interval containments — pure pushdown-able
    filters, no joins — and the audit boolean proves the bitemporal
    invariant that exactly ONE version per key survives the double
    containment (overlapping tx intervals would silently double-count
    revenue). At 100 TB both axes are partition/cluster columns and
    the containment prunes files."""
    o = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = o.select("o_orderkey", "o_orderdate", cents.alias("cents"))
    v1 = base.select(
        "o_orderkey",
        F.col("o_orderdate").alias("valid_from"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("valid_to"),
        F.col("o_orderdate").alias("tx_from"),
        (F.col("o_orderdate") + F.expr("INTERVAL 10 DAY")).alias("tx_to"),
        "cents",
        F.lit(1).alias("version"),
    )
    v2 = base.select(
        "o_orderkey",
        F.col("o_orderdate").alias("valid_from"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("valid_to"),
        (F.col("o_orderdate") + F.expr("INTERVAL 10 DAY")).alias("tx_from"),
        F.lit(None).cast("timestamp").alias("tx_to"),
        (F.col("cents") + 100).alias("cents"),
        F.lit(2).alias("version"),
    )
    V = F.lit("1997-06-20").cast("timestamp")
    T = F.lit("1997-07-01").cast("timestamp")
    belief = (
        v1.unionByName(v2)
        .filter(
            (F.col("valid_from") <= V)
            & (F.col("valid_to") > V)
            & (F.col("tx_from") <= T)
            & (F.col("tx_to").isNull() | (F.col("tx_to") > T))
        )
    )
    return belief.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.sum(F.when(F.col("version") == 1, 1).otherwise(0)).cast("bigint").alias("n_v1"),
        F.sum(F.when(F.col("version") == 2, 1).otherwise(0)).cast("bigint").alias("n_v2"),
        F.count_distinct("o_orderkey").cast("bigint").alias("n_keys"),
        (F.count(F.lit(1)) == F.count_distinct("o_orderkey")).alias("one_version_per_key"),
    )


@register(
    "x27_compaction_planner",
    """
    WITH files AS (
        SELECT CAST(YEAR(l_shipdate) * 100 + MONTH(l_shipdate) AS BIGINT) AS part,
               CAST(l_suppkey % 8 AS BIGINT) AS file_id,
               CAST(COUNT(*) * 128 AS BIGINT) AS bytes
        FROM lineitem GROUP BY part, file_id
    ),
    planned AS (
        SELECT part, file_id, bytes,
               COALESCE(SUM(bytes) OVER (
                   PARTITION BY part ORDER BY bytes DESC, file_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM files
    )
    SELECT part,
           CAST(cum_before // 65536 AS BIGINT) AS compaction_group,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS group_bytes,
           CAST(SUM(CASE WHEN bytes < 16384 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_files
    FROM planned
    GROUP BY part, compaction_group
    ORDER BY part, compaction_group
    """,
)
def x27_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X27: small-file compaction planning — the lakehouse maintenance
    op every 100 TB table needs (thousands of tiny files per partition
    kill scan throughput; OPTIMIZE/rewrite jobs consume a plan exactly
    like this). The file inventory is simulated from lineitem
    ((ship-month, supplier-bucket) -> bytes proxy); within each
    partition, files ordered largest-first are assigned to compaction
    groups by EXCLUSIVE-prefix-sum div target (64 KiB here) — the
    deterministic one-window formulation of greedy size packing (the
    same running-state idea as pack_documents_greedy, but closed-form:
    group = floor(bytes-before / target), no recursion needed).
    Output: one row per (partition, group) with file count, group
    bytes, and the small-file census driving the rewrite decision.

    Scale: one hash-agg builds the inventory (tiny: files-per-
    partition, not rows), the window is PARTITIONED by the table
    partition, and the plan is O(files) regardless of data volume."""
    li = t(spark, sf_dir, "lineitem")
    from pyspark.sql.window import Window

    files = li.groupBy(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("long").alias("part"),
        (F.col("l_suppkey") % 8).cast("long").alias("file_id"),
    ).agg((F.count(F.lit(1)) * 128).cast("long").alias("bytes"))
    w = (
        Window.partitionBy("part")
        .orderBy(F.col("bytes").desc(), "file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.select(
        "part",
        "file_id",
        "bytes",
        F.coalesce(F.sum("bytes").over(w), F.lit(0)).alias("cum_before"),
    )
    return (
        planned.groupBy("part", F.expr("CAST(cum_before DIV 65536 AS BIGINT)").alias("compaction_group"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("bytes").cast("long").alias("group_bytes"),
            F.sum(F.when(F.col("bytes") < 16384, 1).otherwise(0)).cast("long").alias("n_small_files"),
        )
        .orderBy("part", "compaction_group")
    )


def _zorder_oracle_sql() -> str:
    inter = " + ".join(
        f"((d1 // {1 << j}) % 2) * {1 << (2 * j + 1)} + ((d2 // {1 << j}) % 2) * {1 << (2 * j)}"
        for j in range(10)
    )
    return f"""
    WITH pts AS (
        SELECT c_custkey % 1024 AS d1,
               LEAST(1023, GREATEST(0, CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) // 1200)
                   AS d2
        FROM customer
    ),
    keyed AS (
        SELECT d1, d2, CAST({inter} AS BIGINT) AS z FROM pts
    ),
    files AS (
        SELECT 'zorder' AS layout, z // 16384 AS file_id, d2 FROM keyed
        UNION ALL
        SELECT 'linear' AS layout, d1 // 16 AS file_id, d2 FROM keyed
    ),
    stats AS (
        SELECT layout, file_id, MIN(d2) AS mn, MAX(d2) AS mx, COUNT(*) AS n_rows
        FROM files GROUP BY layout, file_id
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN mn <= 400 AND mx >= 300 THEN 1 ELSE 0 END) AS BIGINT)
               AS files_scanned,
           CAST(SUM(CASE WHEN mn <= 400 AND mx >= 300 THEN n_rows ELSE 0 END) AS BIGINT)
               AS rows_scanned,
           CAST(SUM(CASE WHEN mn <= 400 AND mx >= 300 THEN 0 ELSE 1 END) AS BIGINT)
               AS files_pruned
    FROM stats GROUP BY layout ORDER BY layout
    """


@register("x28_zorder_clustering_audit", _zorder_oracle_sql())
def x28_zorder_clustering_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28: Z-order clustering audit — the quantified case for
    multi-dimensional layout at 100 TB: rows carry two independent
    dimensions (key bucket, value bucket); files are simulated under
    (a) Z-ORDER layout (files = ranges of the 20-bit Morton interleave
    of both dims — the f25 bit trick re-aimed at clustering) and (b)
    the naive linear layout (files = ranges of dim-1 only). The audit
    replays min/max data skipping for a dim-2 probe range against
    each layout's per-file zone map: the linear layout scans every
    file (dim-2 spreads uniformly through all of them), the Z-ordered
    layout prunes most — the exact effect OPTIMIZE ZORDER buys, stated
    as hash-checked numbers instead of a slogan.

    Plan: codegen'd interleave, one hash-agg for the zone maps, one
    2-row rollup."""
    c = t(spark, sf_dir, "customer")
    inter = " + ".join(
        f"((d1 DIV {1 << j}) % 2) * {1 << (2 * j + 1)} + ((d2 DIV {1 << j}) % 2) * {1 << (2 * j)}"
        for j in range(10)
    )
    pts = c.select(
        (F.col("c_custkey") % 1024).cast("long").alias("d1"),
        F.expr(
            "CAST(least(1023, greatest(CAST(0 AS BIGINT),"
            " CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) DIV 1200) AS BIGINT)"
        ).alias("d2"),
    )
    keyed = pts.select("d1", "d2", F.expr(f"CAST({inter} AS BIGINT)").alias("z"))
    z_files = keyed.select(F.lit("zorder").alias("layout"), F.expr("z DIV 16384").alias("file_id"), "d2")
    lin_files = keyed.select(F.lit("linear").alias("layout"), F.expr("d1 DIV 16").alias("file_id"), "d2")
    stats = (
        z_files.unionByName(lin_files)
        .groupBy("layout", "file_id")
        .agg(F.min("d2").alias("mn"), F.max("d2").alias("mx"), F.count(F.lit(1)).alias("n_rows"))
    )
    hit = (F.col("mn") <= 400) & (F.col("mx") >= 300)
    return (
        stats.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("files_scanned"),
            F.sum(F.when(hit, F.col("n_rows")).otherwise(0)).cast("long").alias("rows_scanned"),
            F.sum(F.when(hit, 0).otherwise(1)).cast("long").alias("files_pruned"),
        )
        .orderBy("layout")
    )


def _hrw_oracle_sql() -> str:
    return """
    WITH shards7 AS (SELECT UNNEST(RANGE(0, 7)) AS s),
    shards8 AS (SELECT UNNEST(RANGE(0, 8)) AS s),
    a7 AS (
        SELECT doc_id, ARG_MAX(s, h) AS shard FROM (
            SELECT d.doc_id, s.s,
                   ('0x' || SUBSTR(MD5('hrw-' || CAST(s.s AS VARCHAR) || '-' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT * 16 + s.s AS h
            FROM documents d CROSS JOIN shards7 s
        ) GROUP BY doc_id
    ),
    a8 AS (
        SELECT doc_id, ARG_MAX(s, h) AS shard FROM (
            SELECT d.doc_id, s.s,
                   ('0x' || SUBSTR(MD5('hrw-' || CAST(s.s AS VARCHAR) || '-' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT * 16 + s.s AS h
            FROM documents d CROSS JOIN shards8 s
        ) GROUP BY doc_id
    )
    SELECT CAST(a8.shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN a7.shard <> a8.shard THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in
    FROM a8 JOIN a7 ON a8.doc_id = a7.doc_id
    GROUP BY a8.shard ORDER BY shard
    """


@register("x29_rendezvous_sharding", _hrw_oracle_sql())
def x29_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X29: rendezvous (highest-random-weight) sharding — how you grow
    a 100 TB cluster from 7 to 8 shards WITHOUT reshuffling the world:
    each doc goes to the shard with the highest hash(shard, doc), so
    adding shard 7 steals ~1/8 of every old shard's docs and moves
    NOTHING between old shards. The output states that property as
    hash-checked numbers: per new-layout shard, total docs and docs
    that changed assignment — n_moved_in is nonzero ONLY for shard 7
    (the test pins it; consistent-hash rings buy the same guarantee
    with worse balance). The weight is the portable-md5 hash with the
    shard id folded into the low bits as the deterministic tiebreak.

    Plan: two broadcast fan-outs (x7, x8 — constant frames), two
    max_by aggregates keyed by doc, one join + rollup. Linear in the
    corpus, constant in shard count."""
    d = t(spark, sf_dir, "documents").select("doc_id")

    def assign(k: int):
        shards = d.sparkSession.range(0, k).select(F.col("id").alias("s"))
        h = (
            portable_hash32(
                F.concat(F.lit("hrw-"), F.col("s").cast("string"), F.lit("-"), F.col("doc_id").cast("string"))
            )
            * 16
            + F.col("s")
        ).alias("h")
        return (
            d.crossJoin(F.broadcast(shards))
            .select("doc_id", "s", h)
            .groupBy("doc_id")
            .agg(F.expr("max_by(s, h)").alias("shard"))
        )

    a7 = assign(7).select(F.col("doc_id"), F.col("shard").alias("shard7"))
    a8 = assign(8).select(F.col("doc_id"), F.col("shard").alias("shard8"))
    return (
        a8.join(a7, "doc_id")
        .groupBy(F.col("shard8").cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("shard7") != F.col("shard8"), 1).otherwise(0)).cast("long").alias("n_moved_in"),
        )
        .orderBy("shard")
    )


# --- X31: transaction-log snapshot replay (Delta-protocol semantics) --------

_DL_SNAPSHOT_V = 7  # time-travel target version


@register(
    "x31_delta_log_replay",
    f"""
    WITH files AS (
        SELECT doc_id AS file_id,
               doc_id // 4 AS add_version,
               CASE WHEN doc_id % 3 = 0 AND doc_id // 4 + 3 <= 9
                    THEN doc_id // 4 + 3 END AS remove_version,
               CAST(100 + doc_id * 7 AS BIGINT) AS rows_count,
               CAST(1000 + doc_id * 13 AS BIGINT) AS bytes
        FROM documents WHERE doc_id < 40
    )
    SELECT CAST(file_id AS BIGINT) AS file_id,
           CAST(add_version AS BIGINT) AS add_version,
           CAST(remove_version AS BIGINT) AS remove_version,
           add_version <= {_DL_SNAPSHOT_V}
             AND (remove_version IS NULL OR remove_version > {_DL_SNAPSHOT_V}) AS live_at_v,
           rows_count, bytes
    FROM files
    ORDER BY file_id
    """,
)
def x31_delta_log_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X31: lakehouse transaction-log replay — the Delta/Iceberg
    time-travel primitive: a snapshot AS OF version V is the set of
    ADD actions at versions <= V minus the REMOVE actions at versions
    <= V (add/remove reconciliation, Delta protocol §Action
    Reconciliation). The log here is generated deterministically from
    doc ids (4 files per commit, every third file compacted away 3
    commits later) and replayed RELATIONALLY: the live-set predicate
    is one codegen'd boolean per file — no driver loop over versions,
    no log scan per query. At 100 TB the log is Kb-per-commit
    metadata while the data is Tb: snapshot resolution must stay a
    metadata-only relational pass exactly like this, and the same
    add/remove algebra drives VACUUM eligibility (remove_version
    rows are the tombstones). Oracle recomputes the reconciliation
    from the same generation parameters."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    files = d.select(
        F.col("doc_id").alias("file_id"),
        F.expr("doc_id div 4").alias("add_version"),
        F.when(
            (F.col("doc_id") % 3 == 0) & (F.expr("doc_id div 4") + 3 <= 9),
            F.expr("doc_id div 4") + 3,
        ).alias("remove_version"),
        (F.lit(100) + F.col("doc_id") * 7).cast("bigint").alias("rows_count"),
        (F.lit(1000) + F.col("doc_id") * 13).cast("bigint").alias("bytes"),
    )
    live = (F.col("add_version") <= _DL_SNAPSHOT_V) & (
        F.col("remove_version").isNull() | (F.col("remove_version") > _DL_SNAPSHOT_V)
    )
    return files.select(
        F.col("file_id").cast("bigint").alias("file_id"),
        F.col("add_version").cast("bigint").alias("add_version"),
        F.col("remove_version").cast("bigint").alias("remove_version"),
        live.alias("live_at_v"),
        "rows_count",
        "bytes",
    ).orderBy("file_id")


# --- X32: CRDT counter merge (G-counter / PN-counter semantics) ----------------


@register(
    "x32_crdt_counter_merge",
    """
    WITH deltas AS (
        -- three replicas report per-nation counter states at several
        -- versions; a replica's state is the MAX version it reached
        SELECT o_custkey % 25 AS nation,
               o_orderkey % 3 AS replica,
               o_orderkey // 3 % 7 AS version,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_neg,
               1 + o_orderkey % 5 AS amount
        FROM orders
    ),
    states AS (
        -- per (nation, replica, polarity): the LUB = state at max version
        -- G-counter rule: counters only grow, so merge = MAX per replica
        SELECT nation, replica, is_neg,
               MAX(version * 1000 + amount) AS packed
        FROM deltas GROUP BY nation, replica, is_neg
    ),
    merged AS (
        SELECT nation, is_neg, SUM(packed % 1000) AS total
        FROM states GROUP BY nation, is_neg
    )
    SELECT CAST(nation AS BIGINT) AS nation,
           CAST(COALESCE(SUM(CASE WHEN is_neg = 0 THEN total END), 0) AS BIGINT)
             AS p_total,
           CAST(COALESCE(SUM(CASE WHEN is_neg = 1 THEN total END), 0) AS BIGINT)
             AS n_total,
           CAST(COALESCE(SUM(CASE WHEN is_neg = 0 THEN total END), 0)
              - COALESCE(SUM(CASE WHEN is_neg = 1 THEN total END), 0) AS BIGINT)
             AS pn_value
    FROM merged GROUP BY nation ORDER BY nation
    """,
)
def x32_crdt_counter_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X32: PN-counter CRDT merge — the eventually-consistent counter
    (Shapiro et al.) as relational algebra: each replica's
    contribution is a grow-only state, so merging replica reports is
    MAX per (key, replica, polarity) — order- and duplicate-proof,
    exactly why CRDTs suit at-least-once delivery — then the
    counter's value is the sum of per-replica maxima, with the PN
    form as two G-counters (increments minus decrements). MAX and SUM
    are both associative-commutative, so the whole merge is ONE
    partial-aggregating shuffle no matter how replica reports arrive
    or repeat — the lakehouse pattern for idempotent metric ingestion
    from unreliable emitters. Versions and amounts pack into one
    BIGINT (version*1000 + amount) so 'state at max version' is a
    plain MAX."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
    deltas = o.select(
        (F.col("o_custkey") % 25).alias("nation"),
        (F.col("o_orderkey") % 3).alias("replica"),
        (F.expr("o_orderkey div 3") % 7).alias("version"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("is_neg"),
        (1 + F.col("o_orderkey") % 5).alias("amount"),
    )
    states = deltas.groupBy("nation", "replica", "is_neg").agg(
        F.max(F.col("version") * 1000 + F.col("amount")).alias("packed")
    )
    merged = states.groupBy("nation", "is_neg").agg(
        F.sum(F.col("packed") % 1000).alias("total")
    )
    return (
        merged.groupBy("nation")
        .agg(
            F.coalesce(F.sum(F.when(F.col("is_neg") == 0, F.col("total"))), F.lit(0))
            .cast("bigint")
            .alias("p_total"),
            F.coalesce(F.sum(F.when(F.col("is_neg") == 1, F.col("total"))), F.lit(0))
            .cast("bigint")
            .alias("n_total"),
        )
        .select(
            F.col("nation").cast("bigint").alias("nation"),
            "p_total",
            "n_total",
            (F.col("p_total") - F.col("n_total")).cast("bigint").alias("pn_value"),
        )
        .orderBy("nation")
    )


@register(
    "scd2_intervals",
    """
    SELECT user_id, event_type, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           event_id
    FROM events
    ORDER BY user_id, valid_from, event_id
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 snapshot intervals: each event opens a validity window that
    the next event for the same user closes (valid_to NULL = current
    state) — the slowly-changing-dimension build step, one window pass,
    shuffle on user_id only. event_id tiebreaks equal timestamps."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        "event_id",
    ).orderBy("user_id", "valid_from", "event_id")


_VACUUM_RETENTION = 2  # versions kept beyond the snapshot


@register(
    "x33_vacuum_planner",
    f"""
    WITH files AS (
        SELECT doc_id AS file_id,
               doc_id // 4 AS add_version,
               CASE WHEN doc_id % 3 = 0 AND doc_id // 4 + 3 <= 9
                    THEN doc_id // 4 + 3 END AS remove_version,
               CAST(1000 + doc_id * 13 AS BIGINT) AS bytes
        FROM documents WHERE doc_id < 40
    )
    SELECT CAST(file_id AS BIGINT) AS file_id,
           CAST(remove_version AS BIGINT) AS remove_version,
           remove_version IS NOT NULL
               AND remove_version <= {{v}} - {_VACUUM_RETENTION} AS vacuum_eligible,
           CASE WHEN remove_version IS NOT NULL
                     AND remove_version <= {{v}} - {_VACUUM_RETENTION}
                THEN bytes ELSE 0 END AS bytes_reclaimable
    FROM files
    ORDER BY file_id
    """.format(v=9),
)
def x33_vacuum_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X33: VACUUM eligibility over the x31 transaction log — a
    tombstone (REMOVE action) may be physically deleted once its
    remove_version falls behind the retention horizon (current version
    9, retention 2 versions — _VACUUM_RETENTION), the Delta VACUUM rule. Pure
    metadata algebra on the same synthetic log x31 replays: one
    codegen'd boolean per file, bytes-reclaimable ledger alongside.
    At 100 TB the planner reads Kb of log and emits the delete
    manifest; no data file is touched until the manifest executes —
    exactly how table maintenance must be planned at scale."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    v = 9
    files = d.select(
        F.col("doc_id").alias("file_id"),
        F.when(
            (F.col("doc_id") % 3 == 0) & (F.expr("doc_id div 4") + 3 <= 9),
            F.expr("doc_id div 4") + 3,
        ).alias("remove_version"),
        (F.lit(1000) + F.col("doc_id") * 13).cast("bigint").alias("bytes"),
    )
    eligible = F.col("remove_version").isNotNull() & (
        F.col("remove_version") <= v - _VACUUM_RETENTION
    )
    return files.select(
        F.col("file_id").cast("bigint"),
        F.col("remove_version").cast("bigint"),
        eligible.alias("vacuum_eligible"),
        F.when(eligible, F.col("bytes")).otherwise(0).alias("bytes_reclaimable"),
    ).orderBy("file_id")


_CKPT_V = 6  # checkpoint version; tail = commits 7..9


@register(
    "x35_checkpoint_equivalence",
    f"""
    WITH files AS (
        SELECT doc_id AS file_id,
               doc_id // 4 AS add_version,
               CASE WHEN doc_id % 3 = 0 AND doc_id // 4 + 3 <= 9
                    THEN doc_id // 4 + 3 END AS remove_version
        FROM documents WHERE doc_id < 40
    ),
    -- replay the FULL log to version 9
    full_live AS (
        SELECT file_id FROM files
        WHERE add_version <= 9 AND (remove_version IS NULL OR remove_version > 9)
    ),
    -- checkpoint at version {_CKPT_V}: the compacted live set
    ckpt AS (
        SELECT file_id FROM files
        WHERE add_version <= {_CKPT_V}
          AND (remove_version IS NULL OR remove_version > {_CKPT_V})
    ),
    -- tail replay on top of the checkpoint: adds and removes in 7..9
    ckpt_plus_tail AS (
        SELECT file_id FROM (
            SELECT file_id FROM ckpt
            UNION
            SELECT file_id FROM files
            WHERE add_version > {_CKPT_V} AND add_version <= 9
        )
        WHERE file_id NOT IN (
            SELECT file_id FROM files
            WHERE remove_version > {_CKPT_V} AND remove_version <= 9
        )
    )
    SELECT CAST((SELECT COUNT(*) FROM full_live) AS BIGINT) AS n_live_full_replay,
           CAST((SELECT COUNT(*) FROM ckpt) AS BIGINT) AS n_live_at_checkpoint,
           CAST((SELECT COUNT(*) FROM ckpt_plus_tail) AS BIGINT)
               AS n_live_ckpt_plus_tail,
           (SELECT COUNT(*) FROM full_live) = (SELECT COUNT(*) FROM ckpt_plus_tail)
               AND NOT EXISTS (
                   SELECT 1 FROM full_live f
                   WHERE f.file_id NOT IN (SELECT file_id FROM ckpt_plus_tail))
               AS checkpoint_equivalent
    """,
)
def x35_checkpoint_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X35: the Delta-protocol CHECKPOINT invariant, proven relationally
    — replaying the full log to version 9 must equal replaying a
    version-6 checkpoint (_CKPT_V, the compacted live set) plus the
    log tail (adds minus removes in versions 7..9). This is WHY lakehouse
    readers scale: a reader lists ONE checkpoint file + K tail commits
    instead of the whole history, and this query emits the set-equality
    evidence (counts both ways + an anti-join emptiness boolean) that
    the shortcut is lossless over the same synthetic log x31/x33 use.

    Plan: three codegen'd predicates over the 40-row metadata frame,
    one anti-join; metadata-only at any data scale."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    files = d.select(
        F.col("doc_id").alias("file_id"),
        F.expr("doc_id div 4").alias("add_version"),
        F.when(
            (F.col("doc_id") % 3 == 0) & (F.expr("doc_id div 4") + 3 <= 9),
            F.expr("doc_id div 4") + 3,
        ).alias("remove_version"),
    )
    live_at = lambda v: files.filter(
        (F.col("add_version") <= v)
        & (F.col("remove_version").isNull() | (F.col("remove_version") > v))
    ).select("file_id")
    full_live = live_at(9)
    ckpt = live_at(_CKPT_V)
    tail_adds = files.filter(
        (F.col("add_version") > _CKPT_V) & (F.col("add_version") <= 9)
    ).select("file_id")
    tail_removes = files.filter(
        (F.col("remove_version") > _CKPT_V) & (F.col("remove_version") <= 9)
    ).select("file_id")
    ckpt_plus_tail = ckpt.union(tail_adds).distinct().join(
        tail_removes, "file_id", "left_anti"
    )
    c_full = full_live.agg(F.count(F.lit(1)).cast("bigint").alias("n_live_full_replay"))
    c_ckpt = ckpt.agg(F.count(F.lit(1)).cast("bigint").alias("n_live_at_checkpoint"))
    c_tail = ckpt_plus_tail.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_live_ckpt_plus_tail")
    )
    missing = full_live.join(ckpt_plus_tail, "file_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n_missing")
    )
    return (
        c_full.crossJoin(F.broadcast(c_ckpt))
        .crossJoin(F.broadcast(c_tail))
        .crossJoin(F.broadcast(missing))
        .select(
            "n_live_full_replay",
            "n_live_at_checkpoint",
            "n_live_ckpt_plus_tail",
            (
                (F.col("n_live_full_replay") == F.col("n_live_ckpt_plus_tail"))
                & (F.col("n_missing") == 0)
            ).alias("checkpoint_equivalent"),
        )
    )


# --- X36: write-audit-publish (staged commit quality gate) --------------------

_WAP_NULL_LIMIT_MICRO = 30_000  # publish gate: <= 3% nulls per commit


@register(
    "x36_write_audit_publish",
    f"""
    WITH staged AS (
        SELECT doc_id AS file_id,
               doc_id // 4 AS version,
               CASE WHEN doc_id = 13 THEN CAST(0 AS BIGINT)
                    ELSE CAST(100 + doc_id * 7 AS BIGINT) END AS rows_count,
               CASE WHEN doc_id % 5 = 0
                    THEN CAST((100 + doc_id * 7) // 10 AS BIGINT)
                    ELSE CAST(doc_id % 7 AS BIGINT) END AS null_count
        FROM documents WHERE doc_id < 38
    ),
    commits AS (
        SELECT version,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(rows_count) AS BIGINT) AS total_rows,
               CAST(SUM(null_count) AS BIGINT) AS total_nulls,
               CAST(MIN(rows_count) AS BIGINT) AS min_file_rows
        FROM staged GROUP BY version
    ),
    audited AS (
        SELECT version, n_files, total_rows, total_nulls,
               CAST(total_nulls * 1000000 // total_rows AS BIGINT)
                   AS null_ratio_micro,
               CAST(CASE WHEN total_nulls * 1000000 // total_rows
                         <= {_WAP_NULL_LIMIT_MICRO} THEN 1 ELSE 0 END AS BIGINT)
                   AS rule_nulls_ok,
               CAST(CASE WHEN min_file_rows > 0 THEN 1 ELSE 0 END AS BIGINT)
                   AS rule_nonempty_ok,
               CAST(CASE WHEN n_files >= 4 THEN 1 ELSE 0 END AS BIGINT)
                   AS rule_minfiles_ok
        FROM commits
    ),
    gated AS (
        SELECT *,
               CAST(rule_nulls_ok * rule_nonempty_ok * rule_minfiles_ok
                    AS BIGINT) AS published
        FROM audited
    )
    SELECT a.version AS version, a.n_files, a.total_rows, a.total_nulls,
           a.null_ratio_micro, a.rule_nulls_ok, a.rule_nonempty_ok,
           a.rule_minfiles_ok, a.published,
           CAST(COALESCE(SUM(b.total_rows * b.published), 0) AS BIGINT)
               AS snapshot_rows
    FROM gated a LEFT JOIN gated b ON b.version <= a.version
    GROUP BY a.version, a.n_files, a.total_rows, a.total_nulls,
             a.null_ratio_micro, a.rule_nulls_ok, a.rule_nonempty_ok,
             a.rule_minfiles_ok, a.published
    ORDER BY version
    """,
)
def x36_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X36: write-audit-publish — the staged-commit quality gate
    (Iceberg audit branches / LakeFS pre-merge hooks / Delta WAP): a
    writer stages each commit's files to an unpublished branch, an
    AUDIT pass evaluates declarative expectations per commit, and only
    commits that pass every rule are atomically published; failing
    commits are quarantined wholesale, never partially visible. The
    log is generated deterministically from doc ids (10 commits x 4
    files; one planted empty file, periodic high-null files, one
    short commit) so all three rules — null ratio <= 3%, no empty
    file, >= 4 files — fire somewhere. The audit is ONE metadata-sized
    aggregate per commit (the x31 posture: at 100 TB the log is KB of
    metadata while the data is TB — the gate must never rescan data),
    and the published snapshot's cumulative row count folds through
    the broadcast non-equi prefix self-join over the 10-row commit
    ledger. Pairs with dq_expectations (row-level audit) and x31
    (post-publish replay): this is the op that keeps bad commits OUT
    of the log rather than reconciling them after."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 38)
    staged = d.select(
        F.col("doc_id").alias("file_id"),
        F.expr("doc_id div 4").alias("version"),
        F.when(F.col("doc_id") == 13, F.lit(0))
        .otherwise(F.lit(100) + F.col("doc_id") * 7)
        .cast("bigint")
        .alias("rows_count"),
        F.when(F.col("doc_id") % 5 == 0, F.expr("(100 + doc_id * 7) div 10"))
        .otherwise(F.col("doc_id") % 7)
        .cast("bigint")
        .alias("null_count"),
    )
    commits = staged.groupBy("version").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("rows_count").cast("bigint").alias("total_rows"),
        F.sum("null_count").cast("bigint").alias("total_nulls"),
        F.min("rows_count").cast("bigint").alias("min_file_rows"),
    )
    audited = commits.select(
        "version",
        "n_files",
        "total_rows",
        "total_nulls",
        F.expr("CAST(total_nulls * 1000000 DIV total_rows AS BIGINT)").alias(
            "null_ratio_micro"
        ),
        F.expr(
            f"CAST(CASE WHEN total_nulls * 1000000 DIV total_rows"
            f" <= {_WAP_NULL_LIMIT_MICRO} THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("rule_nulls_ok"),
        F.expr("CAST(CASE WHEN min_file_rows > 0 THEN 1 ELSE 0 END AS BIGINT)").alias(
            "rule_nonempty_ok"
        ),
        F.expr("CAST(CASE WHEN n_files >= 4 THEN 1 ELSE 0 END AS BIGINT)").alias(
            "rule_minfiles_ok"
        ),
    )
    gated = audited.withColumn(
        "published",
        F.expr(
            "CAST(rule_nulls_ok * rule_nonempty_ok * rule_minfiles_ok AS BIGINT)"
        ),
    )
    b = gated.select(
        F.col("version").alias("b_version"),
        (F.col("total_rows") * F.col("published")).alias("b_pub_rows"),
    )
    return (
        gated.join(F.broadcast(b), F.col("b_version") <= F.col("version"), "left")
        .groupBy(
            "version", "n_files", "total_rows", "total_nulls",
            "null_ratio_micro", "rule_nulls_ok", "rule_nonempty_ok",
            "rule_minfiles_ok", "published",
        )
        .agg(F.coalesce(F.sum("b_pub_rows"), F.lit(0)).cast("bigint").alias("snapshot_rows"))
        .select(
            F.col("version").cast("bigint").alias("version"),
            "n_files", "total_rows", "total_nulls", "null_ratio_micro",
            "rule_nulls_ok", "rule_nonempty_ok", "rule_minfiles_ok",
            "published", "snapshot_rows",
        )
        .orderBy("version")
    )


# --- X37: optimistic-concurrency conflict audit --------------------------------

_OCC_N_TXN = 12


def _occ_round_sql(tid: int, prev: str, out: str) -> str:
    """One unrolled first-committer-wins decision: txn ``tid`` commits
    iff no COMMITTED earlier txn with id > its read point wrote an
    overlapping partition. The outcome set accumulates by UNION ALL."""
    return f"""
    {out} AS MATERIALIZED (
        SELECT * FROM {prev}
        UNION ALL
        SELECT t.txn_id, t.read_point, t.p1, t.p2,
               (SELECT COUNT(*) FROM {prev} c
                WHERE c.committed = 1 AND c.txn_id > t.read_point
                  AND (c.p1 IN (t.p1, t.p2) OR c.p2 IN (t.p1, t.p2)))
                   AS n_conflicts,
               CAST(CASE WHEN (SELECT COUNT(*) FROM {prev} c
                    WHERE c.committed = 1 AND c.txn_id > t.read_point
                      AND (c.p1 IN (t.p1, t.p2) OR c.p2 IN (t.p1, t.p2))) = 0
                    THEN 1 ELSE 0 END AS BIGINT) AS committed
        FROM txns t WHERE t.txn_id = {tid}
    )"""


_X37_ORACLE = (
    """
    WITH txns AS MATERIALIZED (
        SELECT CAST(doc_id AS BIGINT) AS txn_id,
               CAST(doc_id - 1 - doc_id % 3 AS BIGINT) AS read_point,
               CAST(doc_id % 5 AS BIGINT) AS p1,
               CAST((doc_id * 3 + 1) % 5 AS BIGINT) AS p2
        FROM documents WHERE doc_id < """
    + str(_OCC_N_TXN)
    + """
    ),
    d0 AS MATERIALIZED (
        SELECT txn_id, read_point, p1, p2,
               CAST(0 AS BIGINT) AS n_conflicts, CAST(1 AS BIGINT) AS committed
        FROM txns WHERE txn_id = 0
    ),
    """
    + ",".join(_occ_round_sql(i, f"d{i - 1}", f"d{i}") for i in range(1, _OCC_N_TXN))
    + f"""
    SELECT txn_id, read_point, p1, p2,
           CAST(n_conflicts AS BIGINT) AS n_conflicts, committed,
           CAST(CASE WHEN committed = 1 THEN
                ROW_NUMBER() OVER (PARTITION BY committed ORDER BY txn_id)
                END AS BIGINT) AS commit_version
    FROM d{_OCC_N_TXN - 1}
    ORDER BY txn_id
"""
)


@register("x37_occ_conflict_audit", _X37_ORACLE)
def x37_occ_conflict_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X37: optimistic-concurrency conflict audit — first-committer-
    wins OCC (the Delta/Iceberg commit protocol): each transaction
    read the table at its READ POINT, wrote two partitions, and at
    commit time conflicts with any COMMITTED transaction newer than
    that read point whose write set overlaps — conflicted transactions
    abort and take no version. The outcome of txn t depends on the
    outcomes of txns < t (an aborted writer conflicts nobody), so this
    is a genuine recurrence: the oracle unrolls all 12 decisions as
    chained CTEs (the pagerank/Boruvka posture) and the Spark side
    folds the same rounds over the decision frame through ``iterate``
    (protocol state is 12 rows — metadata-sized at any data scale; at
    100 TB the commit log is KBs while the table is TBs, exactly the
    x31/x36 split). Completes the lakehouse write path: x36 gates WHAT
    may publish, x37 decides WHO wins a race, x31 replays the result.
    Staleness and write sets are deterministic functions of txn id,
    planting real conflicts AND real concurrent-but-disjoint commits;
    the replay test re-runs the protocol imperatively."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < _OCC_N_TXN)
    txns = d.select(
        F.col("doc_id").cast("bigint").alias("txn_id"),
        (F.col("doc_id") - 1 - (F.col("doc_id") % 3)).cast("bigint").alias("read_point"),
        (F.col("doc_id") % 5).cast("bigint").alias("p1"),
        ((F.col("doc_id") * 3 + 1) % 5).cast("bigint").alias("p2"),
    ).localCheckpoint()
    dec = (
        txns.where(F.col("txn_id") == 0)
        .select(
            "txn_id", "read_point", "p1", "p2",
            F.lit(0).cast("bigint").alias("n_conflicts"),
            F.lit(1).cast("bigint").alias("committed"),
        )
        .localCheckpoint()
    )

    def step(dec: DataFrame, tid: int) -> DataFrame:  # round r decides txn r
        cand = txns.where(F.col("txn_id") == tid)
        committed = dec.where(F.col("committed") == 1).select(
            F.col("txn_id").alias("c_txn"),
            F.col("p1").alias("c_p1"),
            F.col("p2").alias("c_p2"),
        )
        conflicts = (
            cand.join(
                F.broadcast(committed),
                (F.col("c_txn") > F.col("read_point"))
                & (
                    F.col("c_p1").isin(F.col("p1"), F.col("p2"))
                    | F.col("c_p2").isin(F.col("p1"), F.col("p2"))
                ),
                "left",
            )
            .groupBy("txn_id", "read_point", "p1", "p2")
            .agg(F.count("c_txn").cast("bigint").alias("n_conflicts"))
            .select(
                "txn_id", "read_point", "p1", "p2", "n_conflicts",
                F.expr(
                    "CAST(CASE WHEN n_conflicts = 0 THEN 1 ELSE 0 END AS BIGINT)"
                ).alias("committed"),
            )
        )
        return dec.unionByName(conflicts)

    dec = iterate(dec, step, _OCC_N_TXN - 1)[-1]
    w = Window.partitionBy("committed").orderBy("txn_id")
    return dec.select(
        "txn_id", "read_point", "p1", "p2", "n_conflicts", "committed",
        F.when(F.col("committed") == 1, F.row_number().over(w))
        .cast("bigint")
        .alias("commit_version"),
    ).orderBy("txn_id")


@register(
    "x12_salted_join",
    """
    WITH direct AS (
        SELECT l_suppkey,
               SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cents,
               COUNT(*) AS n
        FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        GROUP BY l_suppkey
    )
    SELECT l_suppkey,
           CAST(n AS BIGINT) AS n_items,
           CAST(cents AS BIGINT) AS rev_cents,
           TRUE AS matches_direct
    FROM direct
    ORDER BY rev_cents DESC, l_suppkey
    LIMIT 25
    """,
)
def x12_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12: salted skew join — the join-side counterpart of x4's salted
    aggregation. A hot join key (one supplier on 10% of a 100 TB fact
    table) funnels its whole fanout through one task; salting spreads
    it: the fact side appends salt = pmod(hash(row), S), the dim side
    replicates each row S times (dim × salt range — S·|dim| rows, still
    tiny), and the join runs on (key, salt) — S-way parallel for every
    key. The query joins BOTH ways and proves in-plan (matches_direct)
    that per-key aggregates agree; the oracle states the plain join."""
    S = 8
    li = t(spark, sf_dir, "lineitem").select(
        "l_suppkey", F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents")
    )
    sup = t(spark, sf_dir, "supplier").select("s_suppkey")
    salted_fact = li.withColumn("salt", F.pmod(F.hash("l_suppkey", "cents"), F.lit(S)))
    salted_dim = sup.crossJoin(
        F.broadcast(li.sparkSession.range(S).select(F.col("id").cast("int").alias("salt")))
    )
    salted = (
        salted_fact.join(
            salted_dim,
            (F.col("l_suppkey") == F.col("s_suppkey")) & (salted_fact.salt == salted_dim.salt),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("cents").alias("s_cents"), F.count(F.lit(1)).alias("s_n"))
    )
    direct = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy("l_suppkey")
        .agg(F.sum("cents").alias("d_cents"), F.count(F.lit(1)).alias("d_n"))
    )
    return (
        salted.join(direct, "l_suppkey")
        .select(
            "l_suppkey",
            F.col("s_n").cast("bigint").alias("n_items"),
            F.col("s_cents").cast("bigint").alias("rev_cents"),
            ((F.col("s_cents") == F.col("d_cents")) & (F.col("s_n") == F.col("d_n"))).alias(
                "matches_direct"
            ),
        )
        .orderBy(F.desc("rev_cents"), "l_suppkey")
        .limit(25)
    )


@register(
    "x13_scd2_lookup",
    """
    WITH versions AS (
        SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
               LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                   AS valid_to
        FROM orders
    ),
    lookups AS (
        SELECT f.o_orderkey AS fact_key, f.o_custkey, f.o_orderdate AS ts,
               v.o_orderkey AS version_key
        FROM orders f
        JOIN versions v
          ON v.o_custkey = f.o_custkey
         AND v.valid_from <= f.o_orderdate
         AND (v.valid_to IS NULL OR f.o_orderdate < v.valid_to)
    )
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_lookups,
           CAST(SUM(CASE WHEN fact_key = version_key THEN 1 ELSE 0 END) AS BIGINT)
               AS n_self_matched
    FROM lookups
    WHERE o_custkey < 100
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def x13_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: point-in-time dimension lookup against SCD2 validity
    intervals — the consumer side of scd2_intervals: given a fact
    timestamp, find the ONE version row whose [valid_from, valid_to)
    interval covers it. Joins are equi on the entity key with the
    interval residual as a filter — hash-partitionable, never a
    nested loop (the key equi-join bounds candidates to one entity's
    version history). The audit sums self-matches: each fact resolves
    to its own version EXCEPT when two versions share a timestamp —
    the [closed, open) interval gives the earlier tied version a
    zero-length validity, so its fact resolves to the later one.
    n_lookups - n_self_matched therefore counts exactly the timestamp
    collisions: the interval semantics are observable in the output,
    and both engines agree on them bit-for-bit."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    versions = o.select(
        F.col("o_custkey").alias("v_cust"),
        F.col("o_orderkey").alias("version_key"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
    )
    lookups = o.join(
        versions,
        (F.col("o_custkey") == F.col("v_cust"))
        & (F.col("valid_from") <= F.col("o_orderdate"))
        & (F.col("valid_to").isNull() | (F.col("o_orderdate") < F.col("valid_to"))),
    )
    return (
        lookups.where(F.col("o_custkey") < 100)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lookups"),
            F.sum(F.when(F.col("o_orderkey") == F.col("version_key"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_self_matched"),
        )
        .orderBy("o_custkey")
    )


@register(
    "x14_time_weighted_avg",
    """
    WITH iv AS (
        SELECT user_id,
               CAST(FLOOR(value * 1000) AS BIGINT) AS value_milli,
               (LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                - epoch_us(ts)) // 1000000 AS dur_s
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dur_s) AS BIGINT) AS total_s,
           CAST(SUM(value_milli * dur_s) AS DOUBLE)
             / CAST(NULLIF(SUM(dur_s), 0) AS DOUBLE) / 1000.0 AS twa_value
    FROM iv
    WHERE dur_s IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def x14_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14: time-weighted average (interval-weighted aggregation) — the
    sensor/billing semantics where a reading holds until the next one,
    so a value held for an hour counts 3600x a value held a second.
    Plain AVG over irregular samples is biased; TWA weights each value
    by its holding duration.

    Determinism: value -> exact milli-units, duration -> whole seconds
    (integer division of epoch micros), so the weighted numerator and
    denominator are exact BIGINT group sums (order-independent); ONE
    double division at the end. The lead window is user-partitioned —
    scales out on the user key with no global ordering."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = ev.select(
        "user_id",
        F.floor(F.col("value") * 1000).alias("value_milli"),
        (
            (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts"))
            / F.lit(1_000_000)
        )
        .cast("bigint")
        .alias("dur_s"),
    ).where(F.col("dur_s").isNotNull())
    return (
        iv.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.sum("dur_s").cast("bigint").alias("total_s"),
            (
                F.sum(F.col("value_milli") * F.col("dur_s")).cast("double")
                / F.nullif(F.sum("dur_s"), F.lit(0)).cast("double")
                / F.lit(1000.0)
            ).alias("twa_value"),
        )
        .orderBy("user_id")
    )


@register(
    "x15_largest_remainder_allocation",
    """
    WITH base AS (
        SELECT l.l_orderkey, l.l_linenumber,
               CAST(FLOOR(o.o_totalprice * 100) AS BIGINT) AS total_cents,
               CAST(l.l_quantity AS BIGINT) AS q
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    sh AS (
        SELECT *,
               SUM(q) OVER (PARTITION BY l_orderkey) AS big_q,
               (total_cents * q) // SUM(q) OVER (PARTITION BY l_orderkey) AS floor_cents,
               (total_cents * q) % SUM(q) OVER (PARTITION BY l_orderkey) AS rem
        FROM base
    ),
    rk AS (
        SELECT *,
               total_cents - SUM(floor_cents) OVER (PARTITION BY l_orderkey) AS leftover,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY rem DESC, l_linenumber) AS rn
        FROM sh
    )
    SELECT l_orderkey, l_linenumber,
           CAST(floor_cents + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_cents
    FROM rk
    ORDER BY l_orderkey, l_linenumber
    """,
)
def x15_largest_remainder_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15: exact proportional allocation (largest-remainder method) —
    split each order's total across its line items proportional to
    quantity so the parts sum back to the whole EXACTLY. Naive
    ROUND(total * q/Q) drifts by cents; largest-remainder gives each
    row FLOOR(total*q/Q) and hands the leftover cents to the rows with
    the biggest remainders (l_linenumber tiebreak → deterministic).
    The billing/revenue-recognition primitive.

    All windows share one l_orderkey partitioning → a single shuffle;
    integer arithmetic throughout (max product ~5e7*50 << 2^63)."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("o_totalprice") * 100).alias("total_cents"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    wp = Window.partitionBy("l_orderkey")
    sh = base.select(
        "l_orderkey",
        "l_linenumber",
        "total_cents",
        F.expr("total_cents * q div sum(q) over (partition by l_orderkey)").alias(
            "floor_cents"
        ),
        (F.col("total_cents") * F.col("q") % F.sum("q").over(wp)).alias("rem"),
    )
    rk = sh.select(
        "l_orderkey",
        "l_linenumber",
        "floor_cents",
        (F.col("total_cents") - F.sum("floor_cents").over(wp)).alias("leftover"),
        F.row_number()
        .over(Window.partitionBy("l_orderkey").orderBy(F.desc("rem"), "l_linenumber"))
        .alias("rn"),
    )
    return rk.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("floor_cents")
            + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_cents"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "x20_cdc_apply",
    """
    WITH log AS (
        SELECT user_id AS k, ts, event_id,
               CASE event_type WHEN 'signup' THEN 'I'
                               WHEN 'error' THEN 'D'
                               ELSE 'U' END AS op,
               CAST(FLOOR(value * 100) AS BIGINT) AS val_cents
        FROM events
        WHERE event_type IN ('signup', 'click', 'view', 'purchase', 'error')
    ),
    last_op AS (
        SELECT k, op, val_cents
        FROM log
        QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, event_id DESC) = 1
    )
    SELECT k AS user_id, op AS last_op, val_cents
    FROM last_op
    WHERE op <> 'D'
    ORDER BY user_id
    """,
)
def x20_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X20: change-data-capture apply — collapse an ordered I/U/D
    changelog (Debezium-shaped: signup=insert, activity=update,
    error=delete here) into the final table state: per key the LAST
    operation wins, and a last-op DELETE removes the key entirely.
    This is the semantics x7's keep-latest upsert lacks (upsert never
    forgets); the delete branch is what makes CDC replication and
    GDPR-erasure pipelines correct.

    Plan: one window rank per key ordered by (ts, event_id) DESC — a
    single shuffle on the key, group state bounded by events-per-key —
    then a filter. At 100 TB the same query runs incrementally: new
    changelog batches fold in via x8's agg-state merge or as a
    MERGE INTO against the materialized state; the batch form here is
    the semantics oracle."""
    ev = t(spark, sf_dir, "events")
    # same domain filter as the oracle: a future event type outside the
    # changelog vocabulary must be excluded on BOTH sides, not silently
    # mapped to 'U' here while the oracle drops it
    log = ev.where(
        F.col("event_type").isin("signup", "click", "view", "purchase", "error")
    ).select(
        F.col("user_id").alias("k"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        F.floor(F.col("value") * 100).cast("bigint").alias("val_cents"),
    )
    w = Window.partitionBy("k").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        log.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(F.col("k").alias("user_id"), F.col("op").alias("last_op"), "val_cents")
        .orderBy("user_id")
    )
