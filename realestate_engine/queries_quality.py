"""Data-quality / audit operators, the ``dq*`` queries: expectation
suites, drift audits (L1, PSI, KS, Wasserstein), snapshot and Merkle
diffs, MAD and Mahalanobis outliers, Benford, skipping-index audit,
observe() metrics, k-anonymity, functional dependencies, referential
integrity, uniqueness, table fingerprints and rater agreement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from realestate_engine.dedup import lane_hash, lane_hash_sql, portable_hash32
from realestate_engine.ordered import distributed_prefix_sum
from realestate_engine.queries_sources_sql import _interleave_bits_expr
from realestate_engine.registry import cache_once, register, stable_tmp, t
from realestate_engine.text import _DSIR_CTES, dsir_terms


@register(
    "dq_expectations",
    """
    SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey IS NULL) AS null_order_keys,
        (SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders) AS dup_order_keys,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS orphan_lineitems,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem WHERE l_extendedprice <= 0 OR l_quantity <= 0) AS nonpositive_lines,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem WHERE l_discount < 0 OR l_discount > 1) AS bad_discounts
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ1: declarative data-quality expectations — primary-key
    integrity (null/duplicate keys), referential integrity (orphan
    facts via LEFT ANTI), and domain constraints, summarized as one
    violations row. The gate every production pipeline runs before
    publishing a partition; each expectation is a distributed aggregate
    or anti-join, no driver-side row checks."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    key_stats = o.agg(
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).cast("bigint").alias("null_order_keys"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).cast("bigint").alias("dup_order_keys"),
    )
    orphans = (
        li.join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_lineitems"))
    )
    domains = li.agg(
        F.sum(F.when((F.col("l_extendedprice") <= 0) | (F.col("l_quantity") <= 0), 1).otherwise(0))
        .cast("bigint")
        .alias("nonpositive_lines"),
        F.sum(F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0))
        .cast("bigint")
        .alias("bad_discounts"),
    )
    return key_stats.crossJoin(orphans).crossJoin(domains)


# --- Two-period drift: orders' price buckets before and after 1998 ---------
#
# dq2 (L1 shares) and dq13 (PSI) score the same per-bucket counts; this
# CTE and period_bucket_counts are the one definition on each engine.

_PERIOD_BUCKET_CTES = """
    bucketed AS (
        SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
               CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'a' ELSE 'b' END AS period
        FROM orders
    ),
    counts AS (
        SELECT bucket,
               CAST(SUM(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM bucketed GROUP BY bucket
    )"""


def period_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, n_a, n_b): orders per o_totalprice/50000 bucket in
    period a (before 1998) and period b (from 1998), as BIGINT counts.
    One scan and one aggregate; the Spark twin of
    _PERIOD_BUCKET_CTES."""
    b = t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") / 50000.0).cast("bigint").alias("bucket"),
        F.when(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), "a")
        .otherwise("b")
        .alias("period"),
    )
    return b.groupBy("bucket").agg(
        F.sum(F.when(F.col("period") == "a", 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("period") == "b", 1).otherwise(0)).cast("bigint").alias("n_b"),
    )


@register(
    "dq_drift_audit",
    f"""
    WITH {_PERIOD_BUCKET_CTES},
    tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM counts)
    SELECT bucket, n_a, n_b,
           CAST(n_a AS DOUBLE) / ta AS share_a,
           CAST(n_b AS DOUBLE) / tb AS share_b,
           ABS(CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb) AS drift
    FROM counts, tot
    ORDER BY bucket
    """,
)
def dq_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ2: distribution-drift audit between two time periods — the
    monitoring gate that catches upstream schema/behavior changes
    before a model trains on drifted data. Price-bucket shares per
    period plus per-bucket L1 drift |share_a - share_b|; the L1 form
    (not PSI) keeps every value an int/int division or a subtraction
    of identical doubles — bit-identical cross-engine, where PSI's
    ln() would inherit libm variance. One scan, one agg, a broadcast
    1-row totals join."""
    counts = period_bucket_counts(spark, sf_dir)
    tot = counts.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    share_a = F.col("n_a").cast("double") / F.col("ta")
    share_b = F.col("n_b").cast("double") / F.col("tb")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_a",
            "n_b",
            share_a.alias("share_a"),
            share_b.alias("share_b"),
            F.abs(share_a - share_b).alias("drift"),
        )
        .orderBy("bucket")
    )


@register(
    "dq13_psi_drift",
    f"""
    WITH {_PERIOD_BUCKET_CTES},
    tot AS (
        SELECT SUM(n_a) AS tot_a, SUM(n_b) AS tot_b,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM counts
    ),
    terms AS (
        SELECT CAST(FLOOR(((n_a + 1.0) / (tot_a + k) - (n_b + 1.0) / (tot_b + k))
                    * LN(((n_a + 1.0) / (tot_a + k)) / ((n_b + 1.0) / (tot_b + k)))
                    * 1e6) AS BIGINT) AS term_micro,
               n_a, n_b
        FROM counts, tot
    )
    SELECT CAST(SUM(term_micro) AS BIGINT) AS psi_micro,
           CAST(SUM(n_a) AS BIGINT) AS n_period_a,
           CAST(SUM(n_b) AS BIGINT) AS n_period_b,
           CAST(COUNT(*) AS BIGINT) AS n_buckets
    FROM terms
    """,
)
def dq13_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ13: population stability index between two periods — the
    industry drift score dq2's L1 audit deliberately avoided because
    PSI's ln() looked engine-unportable. The repo's integer-micro trick
    makes it oracle-able after all: Laplace-smoothed shares ((n+1)/
    (tot+k), so empty buckets never hit ln(0)) are single IEEE
    divisions — bit-identical cross-engine — each bucket's
    (pa-pb)·ln(pa/pb) term is FLOOR-scaled to integer micros
    INDIVIDUALLY, and the integer sum is order-free where a float sum
    would inherit summation-order ulps. One scan, one per-bucket
    aggregate, a broadcast 1-row totals join; PSI > 0.2 is the
    conventional 'retrain' alarm (here expressed in micros)."""
    per = period_bucket_counts(spark, sf_dir)
    tot = per.agg(
        F.sum("n_a").alias("tot_a"),
        F.sum("n_b").alias("tot_b"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    pa = (F.col("n_a") + 1.0) / (F.col("tot_a") + F.col("k"))
    pb = (F.col("n_b") + 1.0) / (F.col("tot_b") + F.col("k"))
    terms = per.crossJoin(F.broadcast(tot)).select(
        F.floor((pa - pb) * F.log(pa / pb) * 1e6).cast("bigint").alias("term_micro"),
        "n_a",
        "n_b",
    )
    return terms.agg(
        F.sum("term_micro").cast("bigint").alias("psi_micro"),
        F.sum("n_a").cast("bigint").alias("n_period_a"),
        F.sum("n_b").cast("bigint").alias("n_period_b"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
    )


@register(
    "dq3_snapshot_diff",
    """
    WITH old AS (
        SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01'
    ),
    new AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 + CASE WHEN o_orderkey % 97 = 0 THEN 100 ELSE 0 END AS cents
        FROM orders WHERE o_orderkey % 113 <> 0
    ),
    j AS (
        SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN o.cents <> n.cents THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM old o FULL JOIN new n ON n.o_orderkey = o.o_orderkey
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n
    FROM j GROUP BY status ORDER BY status
    """,
)
def dq3_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ3: snapshot reconciliation — classify every key across two
    table versions as added / removed / changed / unchanged via one
    full outer join on the key, comparing content in exact integer
    cents. This is the regression gate for pipeline rewrites ("does v2
    produce the same table?") and the CDC audit for incremental loads.
    Both engines derive the two versions from orders with the same
    deterministic perturbation (price bump on keys %97, key drop on
    %113), so all four classes are exercised. One shuffle join keyed by
    the PK; at 100 TB both sides prune to the compared columns."""
    o = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    old = o.where(F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp")).select(
        F.col("o_orderkey").alias("k_old"), cents.alias("c_old")
    )
    new = o.where(F.col("o_orderkey") % 113 != 0).select(
        F.col("o_orderkey").alias("k_new"),
        (cents + F.when(F.col("o_orderkey") % 97 == 0, 100).otherwise(0)).alias("c_new"),
    )
    j = old.join(new, old.k_old == new.k_new, "full_outer").select(
        F.when(F.col("k_old").isNull(), "added")
        .when(F.col("k_new").isNull(), "removed")
        .when(F.col("c_old") != F.col("c_new"), "changed")
        .otherwise("unchanged")
        .alias("status")
    )
    return (
        j.groupBy("status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("status")
    )


@register(
    "dq4_mad_outliers",
    """
    WITH c AS (
        SELECT o_orderpriority AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    med AS (SELECT grp, quantile_cont(cents, 0.5) AS med_cents FROM c GROUP BY grp),
    dev AS (
        SELECT c.grp, c.cents, ABS(c.cents - m.med_cents) AS adev
        FROM c JOIN med m ON m.grp = c.grp
    ),
    mad AS (SELECT grp, quantile_cont(adev, 0.5) AS mad_cents FROM dev GROUP BY grp)
    SELECT d.grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN d.adev > 3 * x.mad_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ANY_VALUE(x.mad_cents) AS mad_cents
    FROM dev d JOIN mad x ON x.grp = d.grp
    GROUP BY d.grp
    ORDER BY d.grp
    """,
)
def dq4_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ4: robust outlier detection via median absolute deviation —
    the screening rule that, unlike mean/stddev z-scores, is not itself
    dragged by the outliers it hunts (50% breakdown point). Two exact
    grouped medians (integer cents -> interpolation on binary-exact
    halves, so Spark's percentile and DuckDB's quantile_cont agree
    bit-for-bit) chained by joins on the group key, then a |x - med| >
    3*MAD flag count. At 100 TB swap the exact medians for
    approx_percentile sketches (a6) — same plan shape, bounded memory."""
    o = t(spark, sf_dir, "orders")
    c = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    med = c.groupBy("grp").agg(F.percentile("cents", F.lit(0.5)).alias("med_cents"))
    dev = c.join(med, "grp").select(
        "grp", "cents", F.abs(F.col("cents") - F.col("med_cents")).alias("adev")
    )
    mad = dev.groupBy("grp").agg(F.percentile("adev", F.lit(0.5)).alias("mad_cents"))
    return (
        dev.join(mad, "grp")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("adev") > 3 * F.col("mad_cents"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
            F.first("mad_cents").alias("mad_cents"),
        )
        .orderBy("grp")
    )


@register(
    "dq5_benford_audit",
    """
    WITH d AS (
        SELECT SUBSTR(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS digit
        FROM orders WHERE o_totalprice > 0
    ),
    counts AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    tot AS (SELECT SUM(n) AS total FROM counts)
    SELECT digit,
           CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE) / total AS share
    FROM counts, tot
    ORDER BY digit
    """,
)
def dq5_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ5: Benford first-digit audit — the classic fabricated-data /
    fraud screen: naturally-occurring multiplicative amounts follow
    P(d) = log10(1 + 1/d), so a first-digit histogram that deviates
    hard (uniform digits, missing 1s) flags synthetic or tampered
    values. The query emits the observed digit distribution (exact
    integer counts; share is one int/int division — deterministic);
    the log-expected curve stays driver-side to keep the result
    hash-exact. One narrow scan + 9-group agg."""
    o = t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1).alias(
            "digit"
        )
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n"),
            (F.col("n").cast("double") / F.col("total")).alias("share"),
        )
        .orderBy("digit")
    )




# --- Min/max data-skipping effectiveness audit -------------------------------

_DQ14_PROBE_HI = 255  # the y-only probe predicate: y <= 255
_DQ14_Z = _interleave_bits_expr("x", "y")


@register(
    "dq14_skipping_audit",
    f"""
    WITH pts AS (
        SELECT {lane_hash_sql('l_partkey', 0, 1024)} AS x,
               {lane_hash_sql('l_suppkey', 1, 1024)} AS y
        FROM lineitem
    ),
    keyed AS (
        SELECT x, y,
               ({_DQ14_Z}) // 65536 AS z_bucket,
               x // 64 AS linear_bucket
        FROM pts
    ),
    layouts AS (
        SELECT 'zorder' AS layout, z_bucket AS bucket, x, y FROM keyed
        UNION ALL
        SELECT 'linear' AS layout, linear_bucket AS bucket, x, y FROM keyed
    )
    SELECT layout, CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(x) AS INTEGER) AS x_min, CAST(MAX(x) AS INTEGER) AS x_max,
           CAST(MIN(y) AS INTEGER) AS y_min, CAST(MAX(y) AS INTEGER) AS y_max,
           MIN(y) <= {_DQ14_PROBE_HI} AS scanned_by_y_probe
    FROM layouts
    GROUP BY layout, bucket
    ORDER BY layout, bucket
    """,
)
def dq14_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ14: min/max data-skipping effectiveness audit — the
    measurement half of s16_zorder_layout (which produces the layout;
    this query quantifies what the layout BUYS). Points hash-spread
    over a 1024x1024 domain are tiled 16 ways under two layouts:
    `zorder` tiles by the top bits of the s16 Morton key (compact
    ~256x256 squares), `linear` by the leading dimension only (thin
    full-height strips). Output is the min/max footer stats a parquet
    file would carry per tile plus the verdict column
    `scanned_by_y_probe`: which tiles a y-only predicate (y <= 255)
    must read. Same rows, same tile count — layout is the only
    variable — and z-order scans 4 of 16 tiles where linear scans all
    16: a dimension the sort order ignores gets NO skipping, which is
    the decision input for z-ordering a 100 TB table (pin: the r6
    round's pytest asserts zorder strictly beats linear). Tiling by
    top key bits is deterministic (no repartitionByRange sampling),
    one groupBy, bit-exact integers end to end."""
    li = t(spark, sf_dir, "lineitem").select(
        lane_hash(F.col("l_partkey"), 0, 1024).alias("x"),
        lane_hash(F.col("l_suppkey"), 1, 1024).alias("y"),
    )
    keyed = li.select(
        "x",
        "y",
        (F.expr(_DQ14_Z) / F.lit(65536)).cast("bigint").alias("z_bucket"),
        (F.col("x") / F.lit(64)).cast("bigint").alias("linear_bucket"),
    )
    layouts = keyed.select(
        F.lit("zorder").alias("layout"), F.col("z_bucket").alias("bucket"), "x", "y"
    ).unionAll(
        keyed.select(
            F.lit("linear").alias("layout"), F.col("linear_bucket").alias("bucket"), "x", "y"
        )
    )
    return (
        layouts.groupBy("layout", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("x").cast("int").alias("x_min"),
            F.max("x").cast("int").alias("x_max"),
            F.min("y").cast("int").alias("y_min"),
            F.max("y").cast("int").alias("y_max"),
        )
        .select(
            "layout",
            F.col("bucket").cast("bigint").alias("bucket"),
            "n_rows",
            "x_min",
            "x_max",
            "y_min",
            "y_max",
            (F.col("y_min") <= F.lit(_DQ14_PROBE_HI)).alias("scanned_by_y_probe"),
        )
        .orderBy("layout", "bucket")
    )


# --- Observation API: single-pass pipeline metrics ---------------------------


@register(
    "dq15_observe_metrics",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(COUNT(CASE WHEN o_totalprice > 100000 THEN 1 END) AS BIGINT) AS n_large,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders WHERE o_orderstatus = 'O'
    """,
)
def dq15_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ15: pipeline health metrics via ``df.observe`` (Spark's
    Observation API) — row counts, value totals, and range bounds
    accumulated ON THE SAME PASS that writes the pipeline's real
    output, instead of a second full scan per metric (the reference's
    webapp runs one count() per column — app.py:74-101 — which is the
    anti-pattern this replaces; at 100 TB a duplicate metrics scan is
    a duplicate 100 TB read). The observed slice is written to a
    parquet sink as the \"real\" job; the observation rides the write
    job's tasks, and the returned 1-row frame is the metric record a
    pipeline would persist to its run ledger. The oracle recomputes
    the same aggregates relationally — observe()'s accumulator path
    must agree with the declarative path bit-exactly (integer cents)."""
    from pyspark.sql import Observation

    obs = Observation("dq15")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("bigint").alias("total_cents"),
        F.count(F.when(F.col("o_totalprice") > 100000, 1)).cast("bigint").alias("n_large"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
    )
    out = stable_tmp("dq15_observed_slice")
    observed.write.mode("overwrite").parquet(out)  # the action the metrics ride on
    m = obs.get  # O(1) driver-side metric record, not a data detour
    return spark.createDataFrame(
        [(m["n_rows"], m["total_cents"], m["n_large"], m["min_key"], m["max_key"])],
        schema="n_rows long, total_cents long, n_large long, min_key long, max_key long",
    )


# --- Privacy: k-anonymity / l-diversity audit --------------------------------

_KANON_K = 5
_KANON_L = 2


@register(
    "dq16_k_anonymity",
    f"""
    WITH classes AS (
        SELECT c_nationkey, c_mktsegment,
               COUNT(*) AS class_size,
               COUNT(DISTINCT c_acctbal < 0) AS l_distinct
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_rows,
           CAST(MIN(class_size) AS BIGINT) AS k_min,
           CAST(COUNT(CASE WHEN class_size < {_KANON_K} THEN 1 END) AS BIGINT) AS n_classes_below_k,
           CAST(SUM(CASE WHEN class_size < {_KANON_K} THEN class_size ELSE 0 END) * 1000000
                // SUM(class_size) AS BIGINT) AS rows_at_risk_micro,
           CAST(MIN(l_distinct) AS BIGINT) AS l_min,
           CAST(COUNT(CASE WHEN l_distinct < {_KANON_L} THEN 1 END) AS BIGINT) AS n_classes_below_l
    FROM classes
    """,
)
def dq16_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ16: k-anonymity / l-diversity audit — the privacy gate a
    training-data release runs AFTER redaction (t14_pii_redaction
    scrubs direct identifiers; this measures whether the QUASI
    identifiers still single people out). Rows sharing a
    quasi-identifier tuple (nation, market segment) form an
    equivalence class: k-anonymity requires every class >= k members
    (small classes re-identify), l-diversity requires >= l distinct
    sensitive values per class (a uniform class leaks the attribute
    without re-identification). Output is the release-decision record:
    smallest class, classes below k={_KANON_K}, fraction of rows at
    re-identification risk (exact micro units), and the l={_KANON_L}
    diversity floor over the sensitive bit (account in arrears). One
    groupBy + one aggregate — at 100 TB the class census shuffles only
    the quasi-identifier key space."""
    classes = (
        t(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct(F.col("c_acctbal") < 0).alias("l_distinct"),
        )
    )
    return classes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("class_size").cast("bigint").alias("n_rows"),
        F.min("class_size").cast("bigint").alias("k_min"),
        F.count(F.when(F.col("class_size") < _KANON_K, 1)).cast("bigint").alias("n_classes_below_k"),
        F.expr(
            f"CAST(SUM(CASE WHEN class_size < {_KANON_K} THEN class_size ELSE 0 END) * 1000000"
            " DIV SUM(class_size) AS BIGINT)"
        ).alias("rows_at_risk_micro"),
        F.min("l_distinct").cast("bigint").alias("l_min"),
        F.count(F.when(F.col("l_distinct") < _KANON_L, 1)).cast("bigint").alias("n_classes_below_l"),
    )


# --- Exact Wasserstein-1 drift via cogrouped pandas --------------------------


@register(
    "dq17_wasserstein_drift",
    """
    WITH a AS (SELECT c_nationkey AS nation, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v FROM customer),
    b AS (SELECT s_nationkey AS nation, CAST(ROUND(s_acctbal * 100) AS BIGINT) AS v FROM supplier),
    na AS (SELECT nation, COUNT(*) AS n_a FROM a GROUP BY 1),
    nb AS (SELECT nation, COUNT(*) AS n_b FROM b GROUP BY 1),
    support AS (
        SELECT nation, v, SUM(ca) AS ca, SUM(cb) AS cb FROM (
            SELECT nation, v, 1 AS ca, 0 AS cb FROM a
            UNION ALL
            SELECT nation, v, 0 AS ca, 1 AS cb FROM b
        ) GROUP BY 1, 2
    ),
    steps AS (
        SELECT nation, v,
               SUM(ca) OVER (PARTITION BY nation ORDER BY v) AS cuma,
               SUM(cb) OVER (PARTITION BY nation ORDER BY v) AS cumb,
               LEAD(v) OVER (PARTITION BY nation ORDER BY v) AS nxt
        FROM support
    ),
    w AS (
        SELECT s.nation,
               SUM(ABS(s.cuma * nb.n_b - s.cumb * na.n_a) * (s.nxt - s.v)) AS w1_scaled,
               ANY_VALUE(na.n_a) AS n_a, ANY_VALUE(nb.n_b) AS n_b
        FROM steps s JOIN na USING (nation) JOIN nb USING (nation)
        WHERE s.nxt IS NOT NULL
        GROUP BY 1
    )
    SELECT CAST(nation AS INTEGER) AS nation,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(w1_scaled AS BIGINT) AS w1_scaled,
           CAST(w1_scaled * 1000000 // (n_a * n_b) AS BIGINT) AS w1_microcents
    FROM w ORDER BY nation
    """,
)
def dq17_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ17: EXACT Wasserstein-1 (earth mover's) distance between two
    empirical distributions per group — customer vs supplier account
    balances by nation — the bin-free complement to dq13's PSI: PSI
    needs a bucketing choice and smoothing; W1 is parameter-free and
    metrizes the actual cost of moving mass. Computed per nation in
    integer cents: W1 = integral |CDF_a - CDF_b|, cross-multiplied by
    n_a*n_b so every step term is exact BIGINT (reported both scaled
    and in micro-cents). Spark side runs as cogrouped Arrow pandas
    (``groupby().cogroup().applyInPandas`` — the one Python-UDF API
    shape the repo didn't yet exercise): both sides arrive pre-grouped
    per key, so the merge-sorted CDF walk touches one nation's two
    samples at a time — at 100 TB each group is one task, never a
    global sort. The DuckDB oracle replays the same walk relationally
    (partitioned windows over the union support)."""
    import numpy as np

    c = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nation"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nation"),
        F.round(F.col("s_acctbal") * 100).cast("long").alias("cents"),
    )

    def w1(key, left, right):
        import pandas as pd

        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                columns=["nation", "n_a", "n_b", "w1_scaled", "w1_microcents"]
            )
        a = np.sort(left["cents"].values.astype(np.int64))
        b = np.sort(right["cents"].values.astype(np.int64))
        na, nb = len(a), len(b)
        support = np.unique(np.concatenate([a, b]))
        cuma = np.searchsorted(a, support, side="right").astype(np.int64)
        cumb = np.searchsorted(b, support, side="right").astype(np.int64)
        gaps = np.diff(support)
        w1_scaled = int(np.sum(np.abs(cuma[:-1] * nb - cumb[:-1] * na) * gaps))
        return pd.DataFrame(
            {
                "nation": [int(key[0])],
                "n_a": [na],
                "n_b": [nb],
                "w1_scaled": [w1_scaled],
                "w1_microcents": [w1_scaled * 1_000_000 // (na * nb)],
            }
        )

    out = (
        c.groupby("nation")
        .cogroup(s.groupby("nation"))
        .applyInPandas(w1, "nation int, n_a long, n_b long, w1_scaled long, w1_microcents long")
    )
    return out.orderBy("nation")


# --- Privacy: t-closeness (distribution distance per quasi-class) ------------
#
# Completes the anonymity-audit ladder next to dq16 (k-anonymity +
# distinct l-diversity): a class can be k-anonymous and l-diverse yet
# still leak if its SENSITIVE-attribute distribution differs sharply
# from the table's. t-closeness (Li et al., ICDE'07) bounds, per
# quasi-identifier class, the distance between the class's sensitive
# distribution and the global one — for categorical attributes the
# total-variation distance. TVD here is EXACT cross-multiplied
# integers (|cnt_g·N − cnt·n_g| summed, one floor-division at the
# end), the repo's threshold idiom, so both engines agree bit-for-bit.

_TCLOSE_T_MICRO = 200_000  # t = 0.2


@register(
    "dq19_t_closeness",
    f"""
    WITH cls AS (
        SELECT c_nationkey AS nation, c_mktsegment AS seg, COUNT(*) AS cnt
        FROM customer GROUP BY 1, 2
    ),
    gseg AS (SELECT seg, SUM(cnt) AS gcnt FROM cls GROUP BY 1),
    tot AS (SELECT SUM(cnt) AS n FROM cls),
    per_class AS (SELECT nation, SUM(cnt) AS n_g FROM cls GROUP BY 1),
    terms AS (
        SELECT p.nation, p.n_g,
               SUM(ABS(COALESCE(c.cnt, 0) * t.n - g.gcnt * p.n_g)) AS num
        FROM per_class p
        CROSS JOIN gseg g
        CROSS JOIN tot t
        LEFT JOIN cls c ON c.nation = p.nation AND c.seg = g.seg
        GROUP BY 1, 2
    )
    SELECT CAST(nation AS BIGINT) AS nation,
           CAST(n_g AS BIGINT) AS class_size,
           CAST(num * 1000000 // (2 * (SELECT n FROM tot) * n_g) AS BIGINT) AS tvd_micro,
           num * 1000000 // (2 * (SELECT n FROM tot) * n_g) > {_TCLOSE_T_MICRO} AS breaches_t
    FROM terms
    ORDER BY nation
    """,
)
def dq19_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation t-closeness audit of c_mktsegment: exact
    total-variation distance between each nation's segment
    distribution and the global one, in integer micro-units
    (TVD = Σ|cnt_g·N − cnt·n_g| / (2·N·n_g), cross-multiplied so the
    only division is the final floor). Plan: one hash-agg over
    (nation, segment), the 5-row global segment frame and the 1-row
    total broadcast back onto the ~nations·segments grid (LEFT join
    supplies the zero cells a missing segment contributes), one more
    hash-agg per nation. At 100 TB: two linear aggregations plus
    broadcast joins against sub-kilobyte frames — nothing scales with
    row count but the first scan. The cross-multiplied integers hold
    to ~4·10^18 (N·n_g·10^6), i.e. past 10^6 rows per class; beyond
    that swap to per-class micro shares first."""
    c = t(spark, sf_dir, "customer")
    cls = c.groupBy(
        F.col("c_nationkey").alias("nation"), F.col("c_mktsegment").alias("seg")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    cls = cache_once(cls)
    glob = cls.groupBy("seg").agg(F.sum("cnt").alias("gcnt"))
    tot = cls.agg(F.sum("cnt").alias("n"))
    per_class = cls.groupBy("nation").agg(F.sum("cnt").alias("n_g"))
    grid = (
        per_class.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(tot))
        .join(cls, ["nation", "seg"], "left")
        .select(
            "nation",
            "n_g",
            "n",
            F.abs(F.coalesce(F.col("cnt"), F.lit(0)) * F.col("n") - F.col("gcnt") * F.col("n_g")).alias(
                "term"
            ),
        )
    )
    out = grid.groupBy("nation", "n_g", "n").agg(F.sum("term").alias("num"))
    tvd = F.expr("(num * 1000000) DIV (2 * n * n_g)")
    return (
        out.select(
            F.col("nation").cast("bigint").alias("nation"),
            F.col("n_g").cast("bigint").alias("class_size"),
            tvd.cast("bigint").alias("tvd_micro"),
            (tvd > _TCLOSE_T_MICRO).alias("breaches_t"),
        )
        .orderBy("nation")
    )


# --- Differential privacy: deterministic discrete-Laplace counts -------------
#
# The DP release pattern for counting queries (Ghosh-Roughgarden-
# Sundararajan's geometric mechanism): add two-sided-geometric noise
# with alpha = e^-eps to every count. Real deployments draw the noise
# from a CSPRNG; HERE the draw is derandomized through the repo's
# portable-hash trick (the m36 Poisson-bootstrap idiom) so both
# engines sample the IDENTICAL noise and the release hash-compares:
# u = md5-prefix hash of the cell key (uniform on [0, 2^32)), mapped
# through the EXACT integer inverse CDF of the alpha=1/3 (eps=ln 3)
# discrete Laplace — whose probabilities are exact rationals
# (P(0)=1/2, P(±k)=a^k/3... denominators are powers of 3), so the
# threshold table below is exact, computed once in host Python with
# Fractions and inlined as literals on BOTH engines. Tails beyond ±8
# (probability < 2·10^-4) clamp to ±8.

_DP_ALPHA_NUM, _DP_ALPHA_DEN = 1, 3  # alpha = 1/3  (eps = ln 3)
_DP_MAX_K = 8


def _dp_thresholds() -> list[tuple[int, int]]:
    """(threshold, noise) pairs: noise(h) = first k (scanning k =
    -8..8) with h < threshold_k, where threshold_k = floor(2^32 *
    CDF(k)) under the exact rational discrete-Laplace CDF."""
    from fractions import Fraction

    a = Fraction(_DP_ALPHA_NUM, _DP_ALPHA_DEN)
    p0 = (1 - a) / (1 + a)
    out = []
    cdf = Fraction(0)
    for k in range(-_DP_MAX_K, _DP_MAX_K + 1):
        p = p0 if k == 0 else p0 * a ** abs(k)
        if k == -_DP_MAX_K:  # left tail clamps here
            p += sum(p0 * a**j for j in range(_DP_MAX_K + 1, 64))
        cdf += p
        thr = (cdf.numerator * (1 << 32)) // cdf.denominator
        out.append((thr if k < _DP_MAX_K else 1 << 32, k))
    return out


def _dp_noise_case_sql(hexpr: str) -> str:
    whens = " ".join(
        f"WHEN {hexpr} < {thr} THEN ({k})" for thr, k in _dp_thresholds()
    )
    return f"CASE {whens} END"


@register(
    "p24_dp_noisy_counts",
    f"""
    WITH cells AS (
        SELECT c_nationkey AS nation, c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM customer GROUP BY 1, 2
    ),
    noised AS (
        SELECT nation, seg, cnt,
               {_dp_noise_case_sql("(('0x' || SUBSTR(MD5('dp|' || nation || '|' || seg), 1, 8))::BIGINT)")} AS noise
        FROM cells
    )
    SELECT CAST(nation AS BIGINT) AS nation, seg,
           CAST(noise AS BIGINT) AS noise,
           CAST(GREATEST(cnt + noise, 0) AS BIGINT) AS noisy_count
    FROM noised
    ORDER BY nation, seg
    """,
)
def p24_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of the (nation, segment) count
    table via the geometric mechanism at eps = ln 3 — noise drawn
    deterministically per cell from the portable md5 hash pushed
    through the exact integer inverse CDF (threshold literals shared
    verbatim with the oracle), post-processed with the standard
    clamp-at-zero. Plan: one hash-agg over the quasi-grid, then pure
    per-row codegen'd expression work (md5 + a 17-branch CASE) — at
    100 TB the mechanism costs exactly one aggregation; swapping the
    derandomized hash for a CSPRNG draw is a one-line change that
    does not touch the plan. (The derandomization is what makes the
    release oracle-checkable; a keyed-hash DP variant is also a real
    pattern — e.g. reproducible DP releases keyed on a secret.)"""
    cells = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nation"), F.col("c_mktsegment").alias("seg"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    h = portable_hash32(
        F.concat(F.lit("dp|"), F.col("nation").cast("string"), F.lit("|"), F.col("seg"))
    )
    # WHEN-chain in ascending threshold order (first match wins)
    noise = None
    for thr, k in _dp_thresholds():
        cond = h < F.lit(thr)
        noise = F.when(cond, k) if noise is None else noise.when(cond, k)
    out = cells.withColumn("noise", noise.cast("long"))
    return out.select(
        F.col("nation").cast("bigint").alias("nation"),
        "seg",
        "noise",
        F.greatest(F.col("cnt") + F.col("noise"), F.lit(0)).cast("bigint").alias("noisy_count"),
    ).orderBy("nation", "seg")


# --- P25: Neyman-optimal stratified sampling allocation ----------------------

_NEYMAN_TOTAL = 1000  # sample budget to allocate


@register(
    "p25_neyman_allocation",
    f"""
    WITH strata AS (
        SELECT c_nationkey AS nation,
               COUNT(*) AS n_h,
               SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS s1,
               SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
                   * CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS s2
        FROM customer GROUP BY c_nationkey
    ),
    weights AS (
        SELECT nation, n_h,
               CAST(FLOOR(SQRT(CAST(n_h * s2 - s1 * s1 AS DOUBLE))) AS BIGINT) AS w_h
        FROM strata
    ),
    tot AS (SELECT SUM(w_h) AS w_tot FROM weights)
    SELECT CAST(w.nation AS BIGINT) AS nation,
           CAST(w.n_h AS BIGINT) AS n_h,
           w.w_h,
           CAST({_NEYMAN_TOTAL} * w.w_h // t.w_tot AS BIGINT) AS alloc_h,
           CAST({_NEYMAN_TOTAL} * w.w_h * 1000000 // t.w_tot
                - ({_NEYMAN_TOTAL} * w.w_h // t.w_tot) * 1000000 AS BIGINT)
             AS remainder_micro
    FROM weights w CROSS JOIN tot t
    ORDER BY nation
    """,
)
def p25_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P25: Neyman-optimal allocation of a fixed sample budget across
    strata — n_h proportional to N_h * S_h, the variance-minimizing
    stratified design (Neyman 1934), the principled version of
    p10_stratified_sample's fixed fractions. Exactness: N_h*S_h is
    computed as SQRT(N_h*SUM(x^2) - SUM(x)^2) over integer cents —
    the radicand is an exact BIGINT (no float mean subtraction), the
    BIGINT->DOUBLE cast rounds identically on both engines, and IEEE
    SQRT is correctly rounded, so FLOOR of it is deterministic.
    Allocations are integer floor shares of the budget with the
    sub-unit remainder emitted in micros (feed x15's largest-
    remainder pass to distribute the leftovers). Scale: one hash agg
    over the scan + a 1-row total broadcast — the allocation itself
    never touches row data again, so at 100 TB this is metadata."""
    c = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    strata = c.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    weights = strata.select(
        "nation",
        "n_h",
        F.floor(F.sqrt((F.col("n_h") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")))
        .cast("bigint")
        .alias("w_h"),
    )
    tot = weights.agg(F.sum("w_h").alias("w_tot"))
    b = _NEYMAN_TOTAL
    return (
        weights.crossJoin(F.broadcast(tot))
        .select(
            F.col("nation").cast("bigint").alias("nation"),
            F.col("n_h").cast("bigint").alias("n_h"),
            "w_h",
            F.expr(f"CAST({b} * w_h DIV w_tot AS BIGINT)").alias("alloc_h"),
            F.expr(
                f"CAST({b} * w_h * 1000000 DIV w_tot - ({b} * w_h DIV w_tot) * 1000000 AS BIGINT)"
            ).alias("remainder_micro"),
        )
        .orderBy("nation")
    )


# --- DQ20: inclusion-dependency (foreign-key) discovery -----------------------

_IND_CANDIDATES = [
    # (child table, child col, parent table, parent col)
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    # deliberate negative control: order keys are NOT customer keys
    ("orders", "o_orderkey", "customer", "c_custkey"),
]


def _ind_leg_sql(ct: str, cc: str, pt: str, pc: str) -> str:
    return f"""
    SELECT '{ct}.{cc}' AS child, '{pt}.{pc}' AS parent,
           CAST(n_child AS BIGINT) AS n_child_distinct,
           CAST(n_orphan AS BIGINT) AS n_orphans,
           n_orphan = 0 AS is_inclusion,
           CAST((n_child - n_orphan) * 1000000 // n_child AS BIGINT)
             AS containment_micro
    FROM (
        SELECT COUNT(*) AS n_child,
               SUM(CASE WHEN p.{pc} IS NULL THEN 1 ELSE 0 END) AS n_orphan
        FROM (SELECT DISTINCT {cc} FROM {ct}) c
        LEFT JOIN (SELECT DISTINCT {pc} FROM {pt}) p ON p.{pc} = c.{cc}
    )"""


@register(
    "dq20_inclusion_dependencies",
    " UNION ALL ".join(_ind_leg_sql(*cand) for cand in _IND_CANDIDATES)
    + " ORDER BY child, parent",
)
def dq20_inclusion_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ20: inclusion-dependency discovery — the data-profiling pass
    that finds FOREIGN KEYS in undocumented data (Bauckmann et al.,
    SPIDER): for each candidate column pair, is every distinct child
    value contained in the parent's distinct values? Each candidate
    is DISTINCT-reduce on both sides then one LEFT join orphan count
    — never row-level joins, so a 100 TB fact table collapses to its
    key cardinality before any pairing. Six true FKs of the TPC-H
    schema plus one deliberate negative control (order keys vs
    customer keys) whose containment ratio documents what a near-miss
    looks like. Emits distinct counts, orphan counts, the boolean,
    and floor-micro containment. The same skeleton generalizes to
    candidate generation over all column pairs with type/min-max
    prefilters — this query IS the verification leg."""
    legs = []
    for ct, cc, pt, pc in _IND_CANDIDATES:
        child = t(spark, sf_dir, ct).select(F.col(cc).alias("v")).distinct()
        parent = t(spark, sf_dir, pt).select(F.col(pc).alias("pv")).distinct()
        agg = (
            child.join(parent, child.v == parent.pv, "left")
            .agg(
                F.count(F.lit(1)).alias("n_child"),
                F.sum(F.when(F.col("pv").isNull(), 1).otherwise(0)).alias("n_orphan"),
            )
        )
        legs.append(
            agg.select(
                F.lit(f"{ct}.{cc}").alias("child"),
                F.lit(f"{pt}.{pc}").alias("parent"),
                F.col("n_child").cast("bigint").alias("n_child_distinct"),
                F.col("n_orphan").cast("bigint").alias("n_orphans"),
                (F.col("n_orphan") == 0).alias("is_inclusion"),
                F.expr("CAST((n_child - n_orphan) * 1000000 DIV n_child AS BIGINT)").alias(
                    "containment_micro"
                ),
            )
        )
    res = legs[0]
    for leg in legs[1:]:
        res = res.unionByName(leg)
    return res.orderBy("child", "parent")


# --- P26: quantile normalization against a reference distribution ------------

_QN_B = 20  # bands


@register(
    "p26_quantile_normalization",
    f"""
    WITH src AS (
        SELECT CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents FROM customer
    ),
    tgt AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    cuts AS (
        SELECT quantile_cont(cents,
            [{", ".join(str(i / _QN_B) for i in range(1, _QN_B))}]) AS qs
        FROM src
    ),
    mids AS (
        SELECT quantile_cont(cents,
            [{", ".join(str((2 * i - 1) / (2 * _QN_B)) for i in range(1, _QN_B + 1))}]) AS ms
        FROM tgt
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_src,
           CAST(MIN(cents) AS BIGINT) AS src_lo_cents,
           CAST(MAX(cents) AS BIGINT) AS src_hi_cents,
           CAST(FLOOR(ANY_VALUE(ms[CAST(bucket AS INTEGER)])) AS BIGINT)
             AS normalized_cents
    FROM (
        SELECT s.cents,
               1 + LEN(LIST_FILTER(cuts.qs, q -> q < s.cents)) AS bucket,
               mids.ms
        FROM src s, cuts, mids
    )
    GROUP BY bucket ORDER BY bucket
    """,
)
def p26_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P26: quantile normalization — remap customer balances onto the
    order-price distribution by rank (the genomics/feature-scaling
    standard: every value is replaced by the reference distribution's
    value at ITS OWN quantile). Distribution-shape transfer with zero
    parametric assumptions. Execution is the a23 no-funnel discipline
    twice over: 19 source cuts + 20 reference mid-quantiles come from
    two exact-percentile aggregates (integer cents, bit-identical
    interpolation), both broadcast as 1-row arrays; each row's band is
    a map-side cuts-below-me count (never an NTILE global sort), and
    the normalized value is one element_at. Emits the 20-band mapping
    table with band occupancy. At 100 TB: two agg passes + one
    map-only rewrite."""
    c = t(spark, sf_dir, "customer").select(
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents")
    )
    o = t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    cuts = c.agg(
        F.percentile("cents", F.array(*[F.lit(i / _QN_B) for i in range(1, _QN_B)])).alias("qs")
    )
    mids = o.agg(
        F.percentile(
            "cents", F.array(*[F.lit((2 * i - 1) / (2 * _QN_B)) for i in range(1, _QN_B + 1)])
        ).alias("ms")
    )
    return (
        c.crossJoin(F.broadcast(cuts))
        .crossJoin(F.broadcast(mids))
        .select(
            "cents",
            (1 + F.size(F.filter(F.col("qs"), lambda q: q < F.col("cents"))))
            .cast("bigint")
            .alias("bucket"),
            "ms",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_src"),
            F.min("cents").cast("bigint").alias("src_lo_cents"),
            F.max("cents").cast("bigint").alias("src_hi_cents"),
            F.floor(F.any_value(F.expr("element_at(ms, CAST(bucket AS INT))")))
            .cast("bigint")
            .alias("normalized_cents"),
        )
        .orderBy("bucket")
    )


# --- DQ21: cross-table financial reconciliation --------------------------------


@register(
    "dq21_order_reconciliation",
    """
    WITH li AS (
        SELECT l_orderkey,
               SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                              * (1 + l_tax) * 100) AS BIGINT)) AS li_cents
        FROM lineitem GROUP BY l_orderkey
    ),
    rec AS (
        SELECT o.o_orderkey,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS o_cents,
               li.li_cents,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) - li.li_cents AS gap_cents
        FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT CASE WHEN gap_cents = 0 THEN 'exact'
                WHEN ABS(gap_cents) * 100 <= o_cents THEN 'within_1pct'
                ELSE 'divergent' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(gap_cents) AS BIGINT) AS min_gap_cents,
           CAST(MAX(gap_cents) AS BIGINT) AS max_gap_cents,
           CAST(SUM(ABS(gap_cents)) AS BIGINT) AS total_abs_gap_cents
    FROM rec GROUP BY 1 ORDER BY bucket
    """,
)
def dq21_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ21: cross-table financial reconciliation — the month-end-close
    audit: does each order header's total equal the sum of its line
    items' extended * (1-discount) * (1+tax)? One per-order rollup,
    one header join, and a gap census (exact / within-1% / divergent,
    with min/max/total absolute gaps) — the drill-down starting point
    when books don't balance. All money exact integer cents under ONE
    stated rounding policy (ROUND per line, both engines' half-up
    agrees on cent values); whatever relationship the data actually
    has is REPORTED, not assumed — on this synthetic testdata the
    census itself documents how the generator priced orders. Scale:
    fact-fact equi-join on the order key, partial-agg rollup first;
    the census frame is 3 rows at any data size."""
    li = t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")) * 100
            ).cast("bigint")
        ).alias("li_cents")
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("bigint").alias("o_cents")
    )
    rec = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_cents", (F.col("o_cents") - F.col("li_cents")).alias("gap_cents")
    )
    bucket = (
        F.when(F.col("gap_cents") == 0, "exact")
        .when(F.abs(F.col("gap_cents")) * 100 <= F.col("o_cents"), "within_1pct")
        .otherwise("divergent")
    )
    return (
        rec.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("gap_cents").cast("bigint").alias("min_gap_cents"),
            F.max("gap_cents").cast("bigint").alias("max_gap_cents"),
            F.sum(F.abs(F.col("gap_cents"))).cast("bigint").alias("total_abs_gap_cents"),
        )
        .orderBy("bucket")
    )


# --- DQ22: temporal-order constraint audit -------------------------------------


@register(
    "dq22_date_order_audit",
    """
    WITH joined AS (
        SELECT l.l_shipdate, o.o_orderdate,
               DATE_DIFF('day', o.o_orderdate::DATE, l.l_shipdate::DATE) AS lag_days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT CASE WHEN lag_days < 0 THEN 'violation_ship_before_order'
                WHEN lag_days = 0 THEN 'same_day'
                WHEN lag_days <= 30 THEN 'within_30d'
                WHEN lag_days <= 120 THEN 'within_120d'
                ELSE 'over_120d' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(MIN(lag_days) AS BIGINT) AS min_lag_days,
           CAST(MAX(lag_days) AS BIGINT) AS max_lag_days
    FROM joined GROUP BY 1 ORDER BY bucket
    """,
)
def dq22_date_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ22: temporal-order constraint audit — the cross-table
    causality check every pipeline needs (nothing ships before it is
    ordered): ship-vs-order lag per line item, bucketed into a
    violation census plus a latency profile (same-day / 30d / 120d /
    tail, with min/max lags). Violations would be the PIT-leakage
    smoking gun x11's point-in-time discipline guards against —
    here the constraint is AUDITED on the data rather than assumed.
    One fact-fact equi-join (the l_orderkey shuffle every TPC-H query
    pays), integer day arithmetic, 5-row census output."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("lag_days")
    )
    bucket = (
        F.when(F.col("lag_days") < 0, "violation_ship_before_order")
        .when(F.col("lag_days") == 0, "same_day")
        .when(F.col("lag_days") <= 30, "within_30d")
        .when(F.col("lag_days") <= 120, "within_120d")
        .otherwise("over_120d")
    )
    return (
        joined.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
            F.min("lag_days").cast("bigint").alias("min_lag_days"),
            F.max("lag_days").cast("bigint").alias("max_lag_days"),
        )
        .orderBy("bucket")
    )


# --- DQ23: DLP scan census (PII classes planted + detected per source) ---------


@register(
    "dq23_dlp_census",
    r"""
    WITH synth AS (
        -- plant four PII classes into doc texts by doc id so detector
        -- recall is provable: email, E.164 phone, SSN-shaped id,
        -- 16-digit card-shaped number (Luhn NOT required — shape scan)
        SELECT doc_id % 4 AS source,
               text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@corp.example.org'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' call +14155550' || LPAD(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' ssn 523-12-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' card 4111111111111' || LPAD(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                       ELSE '' END AS text,
               doc_id
        FROM documents
    ),
    scanned AS (
        SELECT source,
               LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
               LEN(REGEXP_EXTRACT_ALL(text, '\+1[0-9]{10}')) AS n_phone,
               LEN(REGEXP_EXTRACT_ALL(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS n_ssn,
               LEN(REGEXP_EXTRACT_ALL(text, '4[0-9]{15}')) AS n_card,
               CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
                 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
                 + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END
                 + CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS n_planted
        FROM synth
    )
    SELECT CAST(source AS BIGINT) AS source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_email) AS BIGINT) AS n_email,
           CAST(SUM(n_phone) AS BIGINT) AS n_phone,
           CAST(SUM(n_ssn) AS BIGINT) AS n_ssn,
           CAST(SUM(n_card) AS BIGINT) AS n_card,
           SUM(n_email + n_phone + n_ssn + n_card) >= SUM(n_planted) AS recall_complete,
           CAST(SUM(CASE WHEN n_email + n_phone + n_ssn + n_card > 0
                         THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
             AS docs_with_pii_micro
    FROM scanned GROUP BY source ORDER BY source
    """,
)
def dq23_dlp_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ23: DLP scan census — the compliance counterpart of t14's
    redaction: four PII classes (email, E.164 phone, SSN-shaped,
    card-shaped) are PLANTED into doc texts on coprime id cycles and
    then detected by shape regexes, reported per source with a
    recall_complete boolean (detected >= planted — provable because
    the plants are constructed to match; organic false positives can
    only push detected higher, visible in the per-class counts) and
    the share of documents carrying any PII. This census is what
    decides whether a corpus can ship to training at all; at 100 TB
    it is one regex-codegen'd scan + a per-source hash-agg, and the
    same classes feed t14's redaction when the answer is 'no'."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    synth = d.select(
        (F.col("doc_id") % 4).alias("source"),
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" reach user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@corp.example.org"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" call +14155550"),
                    F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" ssn 523-12-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" card 4111111111111"),
                    F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    scanned = synth.select(
        "source",
        F.size(
            F.expr(r"regexp_extract_all(text, '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', 0)")
        ).alias("n_email"),
        F.size(F.expr(r"regexp_extract_all(text, '\\+1[0-9]{10}', 0)")).alias("n_phone"),
        F.size(F.expr(r"regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}', 0)")).alias("n_ssn"),
        F.size(F.expr(r"regexp_extract_all(text, '4[0-9]{15}', 0)")).alias("n_card"),
        (
            F.when(F.col("doc_id") % 3 == 0, 1).otherwise(0)
            + F.when(F.col("doc_id") % 5 == 0, 1).otherwise(0)
            + F.when(F.col("doc_id") % 7 == 0, 1).otherwise(0)
            + F.when(F.col("doc_id") % 11 == 0, 1).otherwise(0)
        ).alias("n_planted"),
    )
    return (
        scanned.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_email").cast("bigint").alias("n_email"),
            F.sum("n_phone").cast("bigint").alias("n_phone"),
            F.sum("n_ssn").cast("bigint").alias("n_ssn"),
            F.sum("n_card").cast("bigint").alias("n_card"),
            (
                F.sum(F.col("n_email") + F.col("n_phone") + F.col("n_ssn") + F.col("n_card"))
                >= F.sum("n_planted")
            ).alias("recall_complete"),
            F.expr(
                "CAST(sum(CASE WHEN n_email + n_phone + n_ssn + n_card > 0 THEN 1 ELSE 0 END)"
                " * 1000000 DIV count(*) AS BIGINT)"
            ).alias("docs_with_pii_micro"),
        )
        .select(F.col("source").cast("bigint").alias("source"), "n_docs", "n_email",
                "n_phone", "n_ssn", "n_card", "recall_complete", "docs_with_pii_micro")
        .orderBy("source")
    )


@register(
    "t29_gopher_quality_rules",
    r"""
    WITH docs AS (
        SELECT doc_id, source,
               STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS words
        FROM documents
    ),
    base AS (
        SELECT doc_id, source,
               CAST(LEN(words) AS BIGINT) AS n_words,
               CAST(LIST_SUM(LIST_TRANSFORM(words, w -> LEN(w))) AS BIGINT) AS sum_len,
               CAST(LEN(LIST_FILTER(words, w -> w IN
                   ('the','a','of','and','to','in','is','on','for','with'))) AS BIGINT)
                   AS n_stop
        FROM docs
    ),
    bigrams AS (
        SELECT doc_id, words[i] || ' ' || words[i + 1] AS bg
        FROM docs, UNNEST(RANGE(1, GREATEST(LEN(words), 1))) AS r(i)
    ),
    bg_top AS (
        SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS top_bigram_cnt
        FROM (SELECT doc_id, bg, COUNT(*) AS cnt FROM bigrams GROUP BY doc_id, bg)
        GROUP BY doc_id
    ),
    grams5 AS (
        SELECT doc_id,
               words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' ||
               words[i+3] || ' ' || words[i+4] AS g5
        FROM docs, UNNEST(RANGE(1, GREATEST(LEN(words) - 3, 1))) AS r(i)
    ),
    g5_stats AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_g5,
               CAST(COUNT(DISTINCT g5) AS BIGINT) AS n_g5_distinct
        FROM grams5 GROUP BY doc_id
    ),
    flags AS (
        SELECT b.source,
               (b.n_words < 20 OR b.n_words > 80) AS f_wordcount,
               (b.sum_len < 3 * b.n_words OR b.sum_len > 8 * b.n_words) AS f_meanlen,
               (b.n_stop < 2) AS f_stopword,
               (COALESCE(g.top_bigram_cnt, 0) * 2 * 100 > 18 * b.n_words) AS f_bigram_rep,
               (COALESCE(s.n_g5 - s.n_g5_distinct, 0) * 100 > 30 * COALESCE(s.n_g5, 1))
                   AS f_dup5gram
        FROM base b
        LEFT JOIN bg_top g USING (doc_id)
        LEFT JOIN g5_stats s USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN f_wordcount THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wordcount,
           CAST(SUM(CASE WHEN f_meanlen THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_meanlen,
           CAST(SUM(CASE WHEN f_stopword THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stopword,
           CAST(SUM(CASE WHEN f_bigram_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_bigram_rep,
           CAST(SUM(CASE WHEN f_dup5gram THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_dup5gram,
           CAST(SUM(CASE WHEN NOT (f_wordcount OR f_meanlen OR f_stopword
                                   OR f_bigram_rep OR f_dup5gram)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
    FROM flags
    GROUP BY source
    ORDER BY source
    """,
)
def t29_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality census (Rae et al. 2021, Appendix
    A1.1, adapted to the synthetic corpus): per source, how many
    documents fail each composition/repetition rule — word count
    outside [20, 80], mean word length outside [3, 8], fewer than two
    stopwords, top word-bigram covering > 18 % of tokens, duplicate
    5-gram share > 30 % — plus the pass-all count. Every threshold is a
    cross-multiplied integer comparison (no float ratios), so the
    census hash-compares exactly.

    Plan: per-doc scalars (word count, summed lengths, stopword hits)
    stay array-native inside whole-stage codegen via higher-order
    functions — zero shuffles; the two repetition rules explode n-grams
    and aggregate BY doc_id, so their shuffles scale with corpus size
    on an even key, and the final census is one source-keyed hash agg.
    Beyond-reference north-star op (LLM corpus quality filtering)."""
    d = t(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", "source", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("words")
    )
    stop_arr = F.array(*[F.lit(s) for s in
                         ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")])
    base = docs.select(
        "doc_id",
        "source",
        F.size("words").cast("bigint").alias("n_words"),
        F.aggregate(
            F.transform("words", lambda w: F.length(w).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
        F.size(F.filter("words", lambda w: F.array_contains(stop_arr, w)))
        .cast("bigint")
        .alias("n_stop"),
    )
    bigrams = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.zip_with(
                    "words",
                    F.slice("words", 2, F.greatest(F.size("words") - 1, F.lit(0))),
                    lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b)),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("bg"),
    )
    bg_top = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").cast("bigint").alias("top_bigram_cnt"))
    )
    grams5 = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                # sequence(1, 0) counts DOWN ([1, 0]) in Spark, so the
                # short-doc case needs an explicit empty array, not a
                # greatest() clamp.
                "transform(if(size(words) >= 5, sequence(1, size(words) - 4),"
                " array()), i -> array_join(slice(words, i, 5), ' '))"
            )
        ).alias("g5"),
    )
    g5_stats = grams5.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g5"),
        F.countDistinct("g5").cast("bigint").alias("n_g5_distinct"),
    )
    flags = (
        base.join(bg_top, "doc_id", "left")
        .join(g5_stats, "doc_id", "left")
        .select(
            "source",
            ((F.col("n_words") < 20) | (F.col("n_words") > 80)).alias("f_wordcount"),
            (
                (F.col("sum_len") < 3 * F.col("n_words"))
                | (F.col("sum_len") > 8 * F.col("n_words"))
            ).alias("f_meanlen"),
            (F.col("n_stop") < 2).alias("f_stopword"),
            (F.coalesce("top_bigram_cnt", F.lit(0)) * 2 * 100 > 18 * F.col("n_words")).alias(
                "f_bigram_rep"
            ),
            (
                F.coalesce(F.col("n_g5") - F.col("n_g5_distinct"), F.lit(0)) * 100
                > 30 * F.coalesce("n_g5", F.lit(1))
            ).alias("f_dup5gram"),
        )
    )
    fail_cols = ["f_wordcount", "f_meanlen", "f_stopword", "f_bigram_rep", "f_dup5gram"]
    aggs = [
        F.sum(F.when(F.col(c), 1).otherwise(0)).cast("bigint").alias(f"n_fail_{c[2:]}")
        for c in fail_cols
    ]
    pass_all = ~(
        F.col("f_wordcount")
        | F.col("f_meanlen")
        | F.col("f_stopword")
        | F.col("f_bigram_rep")
        | F.col("f_dup5gram")
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            *aggs,
            F.sum(F.when(pass_all, 1).otherwise(0)).cast("bigint").alias("n_pass_all"),
        )
        .orderBy("source")
    )


_FUNNEL_QUALITY_SQL = r"""
        SELECT doc_id, source, text,
               CAST(LEN(words) AS BIGINT) AS n_words,
               NOT (
                   LEN(words) < 20 OR LEN(words) > 80
                   OR LIST_SUM(LIST_TRANSFORM(words, w -> LEN(w))) < 3 * LEN(words)
                   OR LIST_SUM(LIST_TRANSFORM(words, w -> LEN(w))) > 8 * LEN(words)
                   OR LEN(LIST_FILTER(words, w -> w IN
                       ('the','a','of','and','to','in','is','on','for','with'))) < 2
               ) AS q_pass
        FROM (SELECT doc_id, source, text,
                     STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS words
              FROM documents)
"""


@register(
    "corpus_curation_funnel",
    rf"""
    WITH quality AS MATERIALIZED ({_FUNNEL_QUALITY_SQL}),
    deduped AS MATERIALIZED (
        SELECT doc_id, source, text, n_words,
               ROW_NUMBER() OVER (
                   PARTITION BY MD5(LOWER(TRIM(text))) ORDER BY doc_id
               ) = 1 AS is_canonical
        FROM quality WHERE q_pass
    ),
    {_DSIR_CTES},
    doc_scores AS (
        SELECT doc_id, CAST(SUM(tf.tf * w.term_micro) AS BIGINT) AS score
        FROM tf JOIN weights w USING (word)
        GROUP BY doc_id
    ),
    funnel AS (
        SELECT q.source,
               CAST(COUNT(*) AS BIGINT) AS n_raw,
               CAST(SUM(CASE WHEN q.q_pass THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pass_quality,
               CAST(SUM(CASE WHEN d.is_canonical THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_after_dedup,
               CAST(SUM(CASE WHEN d.is_canonical AND s.score >= 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_selected,
               CAST(SUM(CASE WHEN d.is_canonical AND s.score >= 0 THEN d.n_words
                             ELSE 0 END) AS BIGINT) AS selected_tokens
        FROM quality q
        LEFT JOIN deduped d USING (doc_id)
        LEFT JOIN doc_scores s USING (doc_id)
        GROUP BY q.source
    )
    SELECT * FROM funnel ORDER BY source
    """,
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus curation funnel — the round-8 composition
    showpiece: per source, documents flow through (1) the Gopher-style
    quality gate (the hot three rules of t29, array-native, zero
    shuffles), (2) exact dedup on the normalized-text md5 (canonical =
    smallest doc_id, one text-hash-keyed window), and (3) DSIR
    target-likelihood selection (the sum of t28's dsir_terms,
    keep score >= 0 = more target-like than raw), emitting the census
    n_raw -> n_pass_quality -> n_after_dedup -> n_selected plus the
    surviving token budget. This is the pipeline a 100 TB pretraining
    corpus actually runs, as ONE declarative plan: Catalyst sees all
    three stages, so the quality filter prunes the dedup window's
    input and the weight join only carries quality-passing canonical
    docs. Every stage is integer/hash exact — the funnel
    hash-compares bit-for-bit."""
    d = t(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", "source", "text", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("words")
    )
    stop_arr = F.array(
        *[F.lit(s) for s in ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")]
    )
    sum_len = F.aggregate(
        F.transform("words", lambda w: F.length(w).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    n_words = F.size("words").cast("bigint")
    n_stop = F.size(F.filter("words", lambda w: F.array_contains(stop_arr, w))).cast("bigint")
    quality = docs.select(
        "doc_id",
        "source",
        "text",
        n_words.alias("n_words"),
        (
            ~(
                (n_words < 20)
                | (n_words > 80)
                | (sum_len < 3 * n_words)
                | (sum_len > 8 * n_words)
                | (n_stop < 2)
            )
        ).alias("q_pass"),
    )
    canon = Window.partitionBy(F.md5(F.lower(F.trim(F.col("text"))))).orderBy("doc_id")
    deduped = (
        quality.filter(F.col("q_pass"))
        .withColumn("is_canonical", F.row_number().over(canon) == 1)
        .select("doc_id", "is_canonical")
    )
    scores = (
        dsir_terms(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("term_micro")).cast("bigint").alias("score"))
    )
    sel = F.col("is_canonical") & (F.col("score") >= 0)
    return (
        quality.join(deduped, "doc_id", "left")
        .join(scores, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_raw"),
            F.sum(F.when(F.col("q_pass"), 1).otherwise(0)).cast("bigint").alias("n_pass_quality"),
            F.sum(F.when(F.col("is_canonical"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_after_dedup"),
            F.sum(F.when(sel, 1).otherwise(0)).cast("bigint").alias("n_selected"),
            F.sum(F.when(sel, F.col("n_words")).otherwise(0))
            .cast("bigint")
            .alias("selected_tokens"),
        )
        .orderBy("source")
    )


@register(
    "dq24_pk_discovery",
    """
    WITH candidates AS (
        SELECT 'o_orderkey' AS cols,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
               (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders)
                   AS n_distinct
        UNION ALL
        SELECT 'o_custkey',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
               (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders)
        UNION ALL
        SELECT 'l_orderkey,l_linenumber',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(COUNT(DISTINCT l_orderkey * 100 + l_linenumber)
                            AS BIGINT) FROM lineitem)
        UNION ALL
        SELECT 'l_orderkey,l_linenumber,l_suppkey,l_partkey',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(COUNT(DISTINCT
                    ('0x' || SUBSTR(MD5(l_orderkey || '|' || l_linenumber || '|'
                        || l_suppkey || '|' || l_partkey), 1, 12))::BIGINT)
                    AS BIGINT) FROM lineitem)
        UNION ALL
        SELECT 'event_id',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM events),
               (SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) FROM events)
    )
    SELECT cols, n_rows, n_distinct,
           n_distinct = n_rows AS is_unique_key,
           CAST(n_rows - n_distinct AS BIGINT) AS n_duplicates
    FROM candidates
    ORDER BY cols
    """,
)
def dq24_pk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ24: primary-key discovery census over a fixed candidate list —
    the profiling pass schema inference and dq10's uniqueness audit
    both build on: each candidate (single column or composite) gets
    exact row/distinct counts and a key verdict. Notably pins the
    repo-wide trap in testdata shape: (l_orderkey, l_linenumber) is
    NOT unique in lineitem — only the full 4-column composite is (the
    window-tiebreak rule every lineitem query follows). Composite
    candidates hash through the portable md5-prefix (12 hex chars —
    collision odds over 1e6 rows ~1e-4, and identical on both
    engines either way, so the verdict hash-compares regardless).

    Plan: one distinct-agg per candidate over its own table scan —
    Spark turns COUNT(DISTINCT) into expand + two-stage agg,
    map-side-combined; at 100 TB each candidate costs one shuffle of
    its distinct keys, and candidates run in one job via the union."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    ev = t(spark, sf_dir, "events")

    def cand(name: str, df: DataFrame, expr: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("cols"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.expr(f"CAST(COUNT(DISTINCT {expr}) AS BIGINT)").alias("n_distinct"),
        )

    full_key_hash = (
        "CAST(CONV(SUBSTR(MD5(CONCAT(l_orderkey, '|', l_linenumber, '|',"
        " l_suppkey, '|', l_partkey)), 1, 12), 16, 10) AS BIGINT)"
    )
    out = (
        cand("o_orderkey", o, "o_orderkey")
        .unionAll(cand("o_custkey", o, "o_custkey"))
        .unionAll(cand("l_orderkey,l_linenumber", li, "l_orderkey * 100 + l_linenumber"))
        .unionAll(cand("l_orderkey,l_linenumber,l_suppkey,l_partkey", li, full_key_hash))
        .unionAll(cand("event_id", ev, "event_id"))
    )
    return out.select(
        "cols",
        "n_rows",
        "n_distinct",
        (F.col("n_distinct") == F.col("n_rows")).alias("is_unique_key"),
        (F.col("n_rows") - F.col("n_distinct")).cast("bigint").alias("n_duplicates"),
    ).orderBy("cols")


@register(
    "dq6_functional_dependency",
    """
    WITH pk AS (
        SELECT l_partkey AS k, COUNT(DISTINCT l_suppkey) AS nd, COUNT(*) AS n
        FROM lineitem GROUP BY l_partkey
    ),
    ok AS (
        SELECT l_orderkey AS k, COUNT(DISTINCT l_returnflag) AS nd, COUNT(*) AS n
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT fd, n_keys, n_violating_keys, max_distinct, n_violating_rows
    FROM (
        SELECT 'l_partkey->l_suppkey' AS fd,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
               CAST(MAX(nd) AS BIGINT) AS max_distinct,
               CAST(SUM(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT) AS n_violating_rows
        FROM pk
        UNION ALL
        SELECT 'l_orderkey->l_returnflag' AS fd,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(MAX(nd) AS BIGINT),
               CAST(SUM(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT)
        FROM ok
    )
    ORDER BY fd
    """,
)
def dq6_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ6: functional-dependency audit — does A determine B in the
    data? Profilers (Metanome-style) phrase candidate FDs as 'every A
    value maps to exactly one B value'; the violation count is the
    repair workload. One groupBy per candidate (distributed, two-level
    agg), then a tiny union of per-FD summary rows."""
    li = t(spark, sf_dir, "lineitem")

    def audit(key: str, dep: str, fd_name: str) -> DataFrame:
        per_key = li.groupBy(F.col(key).alias("k")).agg(
            F.countDistinct(dep).alias("nd"), F.count(F.lit(1)).alias("n")
        )
        return per_key.agg(
            F.lit(fd_name).alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_keys"),
            F.max("nd").cast("bigint").alias("max_distinct"),
            F.sum(F.when(F.col("nd") > 1, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_violating_rows"),
        )

    return (
        audit("l_partkey", "l_suppkey", "l_partkey->l_suppkey")
        .unionAll(audit("l_orderkey", "l_returnflag", "l_orderkey->l_returnflag"))
        .orderBy("fd")
    )


@register(
    "dq7_seasonal_anomaly",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               ISODOW(o_orderdate) - 1 AS dow,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1, 2
    ),
    med AS (
        SELECT dow, CAST(quantile_disc(rev_cents, 0.5) AS BIGINT) AS med_cents
        FROM daily GROUP BY dow
    ),
    dev AS (
        SELECT daily.d, daily.dow, daily.rev_cents, med.med_cents,
               ABS(daily.rev_cents - med.med_cents) AS adev
        FROM daily JOIN med USING (dow)
    ),
    mad AS (
        SELECT dow, CAST(quantile_disc(adev, 0.5) AS BIGINT) AS mad_cents
        FROM dev GROUP BY dow
    )
    SELECT dev.d AS day, CAST(dev.dow AS BIGINT) AS dow,
           dev.rev_cents, dev.med_cents, mad.mad_cents
    FROM dev JOIN mad USING (dow)
    WHERE dev.adev > 3 * mad.mad_cents
    ORDER BY day
    """,
)
def dq7_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ7: seasonality-aware anomaly flags — daily revenue compared to
    its OWN day-of-week median with a 3x MAD band (weekends differ from
    Tuesdays; a global band flags every Saturday). Median + MAD instead
    of mean + stddev because both are outlier-robust — the anomaly
    can't drag its own baseline. All arithmetic is exact: integer
    cents, discrete medians via the GK accuracy>n pin (= DuckDB
    quantile_disc), integer absolute deviations, integer 3*MAD
    threshold — no float anywhere, so the flag set is bit-stable.
    Scale: the raw scan reduces to a days-sized frame in one
    partial-agg shuffle; the two median passes run on that tiny frame
    (at 100 TB: still |days| rows). Day-of-week convention pinned to
    0=Monday on both engines (Spark weekday(), DuckDB ISODOW-1)."""
    o = t(spark, sf_dir, "orders")
    exact_gk = 10_000_000
    daily = (
        o.groupBy(
            F.col("o_orderdate").cast("date").alias("d"),
            F.weekday("o_orderdate").alias("dow"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("bigint").alias("rev_cents"))
    )
    med = daily.groupBy("dow").agg(
        F.percentile_approx("rev_cents", 0.5, exact_gk).cast("bigint").alias("med_cents")
    )
    dev = daily.join(F.broadcast(med), "dow").withColumn(
        "adev", F.abs(F.col("rev_cents") - F.col("med_cents"))
    )
    mad = dev.groupBy("dow").agg(
        F.percentile_approx("adev", 0.5, exact_gk).cast("bigint").alias("mad_cents")
    )
    return (
        dev.join(F.broadcast(mad), "dow")
        .where(F.col("adev") > 3 * F.col("mad_cents"))
        # timestamp output (f10_monthly_revenue idiom): keeps the day
        # column in the datetime family on both fetch paths
        .select(
            F.col("d").cast("timestamp").alias("day"),
            F.col("dow").cast("bigint").alias("dow"),
            "rev_cents",
            "med_cents",
            "mad_cents",
        )
        .orderBy("day")
    )


@register(
    "dq8_id_gap_islands",
    """
    WITH ok AS (
        SELECT event_id FROM events WHERE event_type <> 'error'
    ),
    grp AS (
        SELECT event_id,
               event_id - ROW_NUMBER() OVER (ORDER BY event_id) AS island_key
        FROM ok
    ),
    islands AS (
        SELECT CAST(MIN(event_id) AS BIGINT) AS island_start,
               CAST(MAX(event_id) AS BIGINT) AS island_end,
               CAST(COUNT(*) AS BIGINT) AS island_len
        FROM grp GROUP BY island_key
    )
    SELECT island_start, island_end, island_len
    FROM islands
    ORDER BY island_len DESC, island_start
    LIMIT 50
    """,
)
def dq8_id_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ8: gaps-and-islands over a surrogate-key sequence — the
    completeness audit that answers "which id ranges are missing?"
    after filtering out quarantined rows (here: 'error' events play the
    dropped records). Classic islands construction: id minus its row
    number is constant within every contiguous run. The global
    ROW_NUMBER is computed as a distributed_prefix_sum running count
    over range partitions of event_id (two-phase, ordered.py) — no
    single-partition global window anywhere in the plan, so the audit
    scales with the table instead of funneling it through one task.
    Top-50 longest islands returned (exact integers throughout)."""
    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type") != "error")
        .select("event_id", F.lit(1).alias("one"))
    )
    # rank = running count of rows in event_id order == ROW_NUMBER
    ranked = distributed_prefix_sum(ev, [F.col("event_id")], "one", out_col="rn")
    grp = ranked.select(
        "event_id", (F.col("event_id") - F.col("rn")).alias("island_key")
    )
    return (
        grp.groupBy("island_key")
        .agg(
            F.min("event_id").cast("bigint").alias("island_start"),
            F.max("event_id").cast("bigint").alias("island_end"),
            F.count(F.lit(1)).cast("bigint").alias("island_len"),
        )
        .select("island_start", "island_end", "island_len")
        .orderBy(F.desc("island_len"), "island_start")
        .limit(50)
    )


@register(
    "dq9_referential_integrity",
    """
    SELECT 'lineitem.l_orderkey -> orders' AS fk,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey -> part',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_suppkey -> supplier',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey -> nation',
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
    UNION ALL
    SELECT 'supplier.s_nationkey -> nation',
           CAST((SELECT COUNT(*) FROM supplier s
                 WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)) AS BIGINT)
    UNION ALL
    SELECT 'nation.n_regionkey -> region',
           CAST((SELECT COUNT(*) FROM nation n
                 WHERE NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey)) AS BIGINT)
    UNION ALL
    SELECT 'events.user_id -> customer',
           CAST((SELECT COUNT(*) FROM events e
                 WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS BIGINT)
    ORDER BY fk
    """,
)
def dq9_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ9: whole-schema referential-integrity sweep — one query that
    anti-joins every declared FK edge of the star schema and reports
    orphan counts per edge (the audit a warehouse runs after every
    load; a non-zero row is a broken pipeline, not a data fact). Each
    leg is an anti join against the parent's key — Spark broadcasts
    the small parents and shuffle-joins the big ones, every leg
    partial-aggregates to ONE row before the 8-row union, so the sweep
    costs one pass over each child table regardless of scale. events →
    customer is intentionally included: user_id is only a SOFT
    reference, so its orphan count documents the real referential
    status of the event stream rather than assuming it."""
    edges = [
        ("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey -> part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey -> supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey -> customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey -> nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey -> nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey -> region", "nation", "n_regionkey", "region", "r_regionkey"),
        ("events.user_id -> customer", "events", "user_id", "customer", "c_custkey"),
    ]
    parts = []
    for fk, child, ck, parent, pk in edges:
        orphans = (
            t(spark, sf_dir, child)
            .select(F.col(ck).alias("k"))
            .join(
                t(spark, sf_dir, parent).select(F.col(pk).alias("k")),
                "k",
                "left_anti",
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orphans"))
            .select(F.lit(fk).alias("fk"), "n_orphans")
        )
        parts.append(orphans)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("fk")


@register(
    "dq10_uniqueness_audit",
    """
    SELECT 'customer.c_custkey' AS pk,
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(DISTINCT c_custkey) FROM customer) AS BIGINT) AS n_keys
    UNION ALL
    SELECT 'events.event_id',
           CAST((SELECT COUNT(*) FROM events) AS BIGINT),
           CAST((SELECT COUNT(DISTINCT event_id) FROM events) AS BIGINT)
    UNION ALL
    SELECT 'lineitem.(l_orderkey,l_linenumber,l_suppkey,l_partkey)',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(DISTINCT CONCAT(
                    COALESCE(CAST(l_orderkey AS VARCHAR), chr(1)), ':',
                    COALESCE(CAST(l_linenumber AS VARCHAR), chr(1)), ':',
                    COALESCE(CAST(l_suppkey AS VARCHAR), chr(1)), ':',
                    COALESCE(CAST(l_partkey AS VARCHAR), chr(1)))) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'nation.n_nationkey',
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT),
           CAST((SELECT COUNT(DISTINCT n_nationkey) FROM nation) AS BIGINT)
    UNION ALL
    SELECT 'orders.o_orderkey',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST((SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'part.p_partkey',
           CAST((SELECT COUNT(*) FROM part) AS BIGINT),
           CAST((SELECT COUNT(DISTINCT p_partkey) FROM part) AS BIGINT)
    UNION ALL
    SELECT 'region.r_regionkey',
           CAST((SELECT COUNT(*) FROM region) AS BIGINT),
           CAST((SELECT COUNT(DISTINCT r_regionkey) FROM region) AS BIGINT)
    UNION ALL
    SELECT 'supplier.s_suppkey',
           CAST((SELECT COUNT(*) FROM supplier) AS BIGINT),
           CAST((SELECT COUNT(DISTINCT s_suppkey) FROM supplier) AS BIGINT)
    ORDER BY pk
    """,
)
def dq10_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ10: primary-key uniqueness sweep — rows vs distinct keys for
    every table's declared (or candidate) key, the load audit that
    catches double-ingestion before joins fan out. Notably lineitem's
    key must be the FULL (orderkey, linenumber, suppkey, partkey)
    tuple: (l_orderkey, l_linenumber) alone is NOT unique in this
    testdata — a fact several window tiebreaks in the engine already
    encode, now stated as a checked row. Each leg is one
    partial-aggregated count-distinct; the sweep is one pass per
    table."""
    keys = [
        ("customer.c_custkey", "customer", ["c_custkey"]),
        ("events.event_id", "events", ["event_id"]),
        (
            "lineitem.(l_orderkey,l_linenumber,l_suppkey,l_partkey)",
            "lineitem",
            ["l_orderkey", "l_linenumber", "l_suppkey", "l_partkey"],
        ),
        ("nation.n_nationkey", "nation", ["n_nationkey"]),
        ("orders.o_orderkey", "orders", ["o_orderkey"]),
        ("part.p_partkey", "part", ["p_partkey"]),
        ("region.r_regionkey", "region", ["r_regionkey"]),
        ("supplier.s_suppkey", "supplier", ["s_suppkey"]),
    ]
    parts = []
    for pk, table, cols in keys:
        if len(cols) == 1:
            # single-column: COUNT(DISTINCT col) skips NULLs
            # identically in both engines
            key_count = F.count_distinct(F.col(cols[0]))
        else:
            # multi-column: Spark's count_distinct drops a tuple if ANY
            # field is null, DuckDB's row-tuple distinct keeps it — the
            # exact condition a uniqueness audit must detect. Canonical
            # sentinel key (chr(1) per null field) agrees on both sides
            # and counts null-bearing tuples as distinct keys.
            key_count = F.count_distinct(
                F.concat_ws(
                    ":",
                    *[F.coalesce(F.col(c).cast("string"), F.lit("\x01")) for c in cols],
                )
            )
        parts.append(
            t(spark, sf_dir, table).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                key_count.cast("bigint").alias("n_keys"),
            ).select(F.lit(pk).alias("pk"), "n_rows", "n_keys")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("pk")


@register(
    "dq11_table_fingerprint",
    """
    WITH o AS (
        SELECT COUNT(*) AS n,
               SUM(('0x' || SUBSTR(MD5(CONCAT(CAST(o_orderkey AS VARCHAR), ':',
                    CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR))), 1, 8))::BIGINT) AS fp
        FROM orders
    ),
    l AS (
        SELECT COUNT(*) AS n,
               SUM(('0x' || SUBSTR(MD5(CONCAT(CAST(l_orderkey AS VARCHAR), ':',
                    CAST(l_linenumber AS VARCHAR), ':', CAST(l_suppkey AS VARCHAR), ':',
                    CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS VARCHAR))), 1, 8))::BIGINT) AS fp
        FROM lineitem
    ),
    c AS (
        SELECT COUNT(*) AS n,
               SUM(('0x' || SUBSTR(MD5(CONCAT(CAST(c_custkey AS VARCHAR), ':',
                    CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) AS VARCHAR))), 1, 8))::BIGINT) AS fp
        FROM customer
    )
    SELECT 'customer' AS table_name, CAST(n AS BIGINT) AS n_rows, CAST(fp AS BIGINT) AS fingerprint FROM c
    UNION ALL
    SELECT 'lineitem', CAST(n AS BIGINT), CAST(fp AS BIGINT) FROM l
    UNION ALL
    SELECT 'orders', CAST(n AS BIGINT), CAST(fp AS BIGINT) FROM o
    ORDER BY table_name
    """,
)
def dq11_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ11: content fingerprints — an order-independent checksum per
    table (SUM of a portable row hash over key + value columns), the
    cheap equality proof replication/migration pipelines compare
    instead of diffing rows: two copies agree iff (n_rows,
    fingerprint) agree, across engines, partitionings and file
    layouts. The row hash is the md5-prefix integer (portable_hash32)
    of a canonical key:value string; the SUM is commutative so any
    execution order gives the same BIGINT (2^32-bounded terms overflow
    signed 64-bit only past ~2^31 rows — shard the sum by key range
    beyond that). One map-side pass + 1-row aggregate per table."""
    def fp(df, parts) -> DataFrame:
        key = F.concat_ws(":", *parts)
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(portable_hash32(key)).cast("bigint").alias("fingerprint"),
        )

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    c = t(spark, sf_dir, "customer")
    rows = [
        fp(c, [F.col("c_custkey").cast("string"),
               F.round(F.col("c_acctbal") * 100).cast("bigint").cast("string")])
        .select(F.lit("customer").alias("table_name"), "n_rows", "fingerprint"),
        fp(li, [F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string"),
                F.col("l_suppkey").cast("string"),
                F.round(F.col("l_extendedprice") * 100).cast("bigint").cast("string")])
        .select(F.lit("lineitem").alias("table_name"), "n_rows", "fingerprint"),
        fp(o, [F.col("o_orderkey").cast("string"),
               F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string")])
        .select(F.lit("orders").alias("table_name"), "n_rows", "fingerprint"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("table_name")


@register(
    "dq12_merkle_bucket_diff",
    """
    WITH mutated AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 97 = 0
                    THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) + 1
                    ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS cents
        FROM orders
    ),
    a AS (
        SELECT o_orderkey % 64 AS bucket,
               CAST(SUM(('0x' || SUBSTR(MD5(CONCAT(CAST(o_orderkey AS VARCHAR), ':',
                    CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR))), 1, 8))::BIGINT)
                    AS BIGINT) AS fp,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ),
    b AS (
        SELECT o_orderkey % 64 AS bucket,
               CAST(SUM(('0x' || SUBSTR(MD5(CONCAT(CAST(o_orderkey AS VARCHAR), ':',
                    CAST(cents AS VARCHAR))), 1, 8))::BIGINT) AS BIGINT) AS fp,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM mutated GROUP BY 1
    )
    SELECT a.bucket, a.n AS n_rows,
           (a.fp <> b.fp) AS differs
    FROM a JOIN b ON a.bucket = b.bucket
    WHERE a.fp <> b.fp
    ORDER BY a.bucket
    """,
)
def dq12_merkle_bucket_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ12: Merkle-style bucket diff — the anti-entropy primitive for
    synchronizing two 100 TB copies of a table without comparing rows:
    fingerprint each side per key-bucket (order-independent SUM of
    portable row hashes), join the two 64-row fingerprint frames, and
    only the buckets whose digests differ need row-level reconciliation
    (here: a deterministic mutation of every 97th order's cents, so
    exactly the buckets containing a multiple of 97 differ). Each side
    is one partial-aggregated scan; the diff join touches 64 rows
    regardless of table size — this is how dq11's whole-table
    fingerprint generalizes into an incremental-repair plan."""
    o = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    def side(cents_col) -> DataFrame:
        row_fp = portable_hash32(
            F.concat_ws(":", F.col("o_orderkey").cast("string"), cents_col.cast("string"))
        )
        return o.groupBy((F.col("o_orderkey") % 64).alias("bucket")).agg(
            F.sum(row_fp).cast("bigint").alias("fp"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )

    a = side(cents)
    mutated = F.when(F.col("o_orderkey") % 97 == 0, cents + 1).otherwise(cents)
    b = side(mutated)
    return (
        a.alias("a")
        .join(b.alias("b"), "bucket")
        .filter(F.col("a.fp") != F.col("b.fp"))
        .select(
            "bucket",
            F.col("a.n").alias("n_rows"),
            (F.col("a.fp") != F.col("b.fp")).alias("differs"),
        )
        .orderBy("bucket")
    )


@register(
    "dq18_ks_test",
    """
    WITH tagged AS (
        SELECT c.c_nationkey AS nation,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN o.o_orderdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END AS period
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    per_value AS (
        SELECT nation, cents,
               SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS a,
               SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS b
        FROM tagged GROUP BY nation, cents
    ),
    cum AS (
        SELECT nation,
               ABS(SUM(a) OVER (PARTITION BY nation ORDER BY cents)
                     * SUM(b) OVER (PARTITION BY nation)
                   - SUM(b) OVER (PARTITION BY nation ORDER BY cents)
                     * SUM(a) OVER (PARTITION BY nation)) AS gap,
               SUM(a) OVER (PARTITION BY nation) AS na,
               SUM(b) OVER (PARTITION BY nation) AS nb
        FROM per_value
    )
    SELECT CAST(nation AS BIGINT) AS nation,
           CAST(ANY_VALUE(na) AS BIGINT) AS n_pre,
           CAST(ANY_VALUE(nb) AS BIGINT) AS n_post,
           CAST(MAX(gap) * 1000000 // (ANY_VALUE(na) * ANY_VALUE(nb)) AS BIGINT) AS ks_micro,
           CAST(CASE WHEN MAX(gap) * 10 > ANY_VALUE(na) * ANY_VALUE(nb)
                THEN 1 ELSE 0 END AS BIGINT) AS drifted
    FROM cum GROUP BY nation ORDER BY nation
    """,
)
def dq18_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ18: two-sample Kolmogorov-Smirnov drift test per nation — the
    nonparametric sibling of dq13_psi_drift (binned) and
    dq17_wasserstein_drift (transport): KS = max ECDF gap between the
    pre-/post-1998 order-value samples. Everything stays exact
    integer: the gap |F_a - F_b| is cross-multiplied
    (|ca*nb - cb*na| over na*nb), reported in floor micros, and the
    drift flag is the 0.1-threshold comparison done as integers too —
    nothing for libm to disagree on.

    Plan shape: hash-agg to distinct (nation, cents) first (collapses
    ties and bounds the window input), then cumulative sums over a
    window PARTITIONED by nation (no global funnel; the per-nation
    totals ride the same partition), one final max-agg. At 100 TB the
    dedup-then-window pattern keeps per-task state at the distinct
    value count of one nation, and nation is the natural partition
    key."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    from pyspark.sql.window import Window

    tagged = o.join(F.broadcast(c.select("c_custkey", "c_nationkey")), o.o_custkey == F.col("c_custkey")).select(
        F.col("c_nationkey").alias("nation"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.when(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 0).otherwise(1).alias("period"),
    )
    per_value = tagged.groupBy("nation", "cents").agg(
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).alias("b"),
    )
    w_cum = Window.partitionBy("nation").orderBy("cents")
    w_tot = Window.partitionBy("nation")
    cum = per_value.select(
        "nation",
        F.abs(
            F.sum("a").over(w_cum) * F.sum("b").over(w_tot)
            - F.sum("b").over(w_cum) * F.sum("a").over(w_tot)
        ).alias("gap"),
        F.sum("a").over(w_tot).alias("na"),
        F.sum("b").over(w_tot).alias("nb"),
    )
    return (
        cum.groupBy(F.col("nation").cast("long").alias("nation"))
        .agg(
            F.first("na").cast("long").alias("n_pre"),
            F.first("nb").cast("long").alias("n_post"),
            F.expr("CAST(MAX(gap) * 1000000 DIV (FIRST(na) * FIRST(nb)) AS BIGINT)").alias("ks_micro"),
            F.expr(
                "CAST(CASE WHEN MAX(gap) * 10 > FIRST(na) * FIRST(nb) THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("drifted"),
        )
        .orderBy("nation")
    )


# --- DQ26: Mahalanobis outlier audit (bivariate, exact moments) --------------

# Scatter-matrix entries A = n*Sxx - Sx^2, B, C formed in DOUBLE from
# exact BIGINT moments (identical int->double rounding both engines;
# forming them in BIGINT would overflow past ~sf10 at n*Sxx ~ 1e19).
# d^2 = (n-1)/n * (B*U^2 - 2C*U*W + A*W^2) / (A*B - C^2) with
# U = n*x - Sx, W = n*y - Sy exact BIGINTs — one fixed IEEE chain,
# floored to micro.
_MAHA_A = "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
_MAHA_B = "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)"
_MAHA_C = "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
_MAHA_D2 = (
    f"CAST(CASE WHEN {_MAHA_A} * {_MAHA_B} - {_MAHA_C} * {_MAHA_C} <= 0"
    " THEN 0 ELSE FLOOR((CAST(n AS DOUBLE) - 1) / n * ("
    f"{_MAHA_B} * (n * x - sx) * (n * x - sx)"
    f" - 2 * {_MAHA_C} * (n * x - sx) * (n * y - sy)"
    f" + {_MAHA_A} * (n * y - sy) * (n * y - sy)"
    f") / ({_MAHA_A} * {_MAHA_B} - {_MAHA_C} * {_MAHA_C})"
    " * 1000000) END AS BIGINT)"
)

_DQ26_ORACLE = f"""
    WITH items AS (
        SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS y
        FROM lineitem GROUP BY l_orderkey
    ),
    base AS (
        SELECT o.o_orderkey,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) // 100 AS x,
               i.y
        FROM orders o JOIN items i ON i.l_orderkey = o.o_orderkey
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM base
    )
    SELECT b.o_orderkey, b.x AS price_dollars, b.y AS n_items,
           {_MAHA_D2} AS d2_micro
    FROM base b, mom
    ORDER BY d2_micro DESC, b.o_orderkey
    LIMIT 20
"""


@register("dq26_mahalanobis_outliers", _DQ26_ORACLE)
def dq26_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ26: bivariate Mahalanobis outlier audit over (order price,
    lineitem count) — the multivariate sibling of dq4's univariate MAD:
    an order that is expensive FOR ITS ITEM COUNT (high price, one
    item) outranks one that is merely expensive, because d^2 whitens by
    the 2x2 sample covariance. The inverse is the exact Cramer adjugate
    (the m49 closed-form posture): scatter entries A/B/C are formed in
    DOUBLE from exact BIGINT moments (identical correctly-rounded
    int->double casts both engines; BIGINT formation would overflow
    n*Sxx past ~sf10 — documented boundary, decimal(38) beyond), the
    quadratic form runs per row in _MAHA_D2's fixed IEEE chain on exact
    integer deviations U = n*x - Sx, W = n*y - Sy, floored to micro.
    Degenerate covariance (det <= 0) pins d^2 = 0. Population is
    orders WITH lineitems (inner join — the m57 census lesson: 27
    childless orders at sf0.001). Plan: one lineitem-sized groupBy,
    one orders-sized join, a 1-row moment broadcast onto one map-side
    pass, TakeOrderedAndProject top-20 (d2 desc, orderkey tiebreak) —
    no global sort materializes."""
    items = t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT) DIV 100").alias("x"),
    )
    base = o.join(items, o.o_orderkey == items.l_orderkey).select(
        "o_orderkey", "x", "y"
    )
    mom = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    return (
        base.crossJoin(F.broadcast(mom))
        .select(
            "o_orderkey",
            F.col("x").alias("price_dollars"),
            F.col("y").alias("n_items"),
            F.expr(_MAHA_D2).alias("d2_micro"),
        )
        .orderBy(F.desc("d2_micro"), "o_orderkey")
        .limit(20)
    )


# --- DQ27: inter-rater agreement (Fleiss + pairwise Cohen kappa) --------------

# Kappas in one fixed IEEE chain each, from exact BIGINT tallies.
# Fleiss (3 raters, 2 categories): P_bar = S1/(6n) with
# S1 = sum_i sum_j n_ij(n_ij - 1); P_e = (cp^2 + cf^2)/(3n)^2.
_FLEISS = (
    "CAST(CASE WHEN CAST(9 AS DOUBLE) * n * n"
    " - (CAST(cp AS DOUBLE) * cp + CAST(cf AS DOUBLE) * cf) = 0 THEN 0"
    " ELSE FLOOR("
    "(CAST(s1 AS DOUBLE) / 6 / n"
    " - (CAST(cp AS DOUBLE) * cp + CAST(cf AS DOUBLE) * cf) / 9 / n / n)"
    " / (1 - (CAST(cp AS DOUBLE) * cp + CAST(cf AS DOUBLE) * cf) / 9 / n / n)"
    " * 1000000) END AS BIGINT)"
)


def _cohen(a: str, b: str, agree: str) -> str:
    """Cohen's kappa for the rater pair (a, b): po = agree/n,
    pe = (a*b + (n-a)(n-b))/n^2, kappa = (po - pe)/(1 - pe)."""
    pe = (
        f"((CAST({a} AS DOUBLE) * {b}"
        f" + (CAST(n AS DOUBLE) - {a}) * (CAST(n AS DOUBLE) - {b})) / n / n)"
    )
    return (
        f"CAST(CASE WHEN 1 - {pe} = 0 THEN 0 ELSE FLOOR("
        f"(CAST({agree} AS DOUBLE) / n - {pe}) / (1 - {pe}) * 1000000)"
        f" END AS BIGINT)"
    )


def rater_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The votes of three deterministic document-quality raters, one
    (ra, rb, rc) row of 0/1 per document: ra = at least 50 tokens;
    rb = type-token ratio >= 0.6, tested by integer
    cross-multiplication; rc = no token longer than 15 chars. Tokens
    are the non-empty whitespace splits of the trimmed, lower-cased
    text. The oracle is _RATER_VOTES_CTES (feat, votes). Read by
    dq27_rater_agreement and m62_dawid_skene."""
    words = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    feat = t(spark, sf_dir, "documents").select(
        F.size(words).cast("bigint").alias("n_tok"),
        F.size(F.array_distinct(words)).cast("bigint").alias("n_dis"),
        F.size(F.filter(words, lambda x: F.length(x) > 15))
        .cast("bigint")
        .alias("n_long"),
    )
    return feat.select(
        F.when(F.col("n_tok") >= 50, 1).otherwise(0).alias("ra"),
        F.when(F.col("n_dis") * 5 >= F.col("n_tok") * 3, 1)
        .otherwise(0)
        .alias("rb"),
        F.when(F.col("n_long") == 0, 1).otherwise(0).alias("rc"),
    )


_RATER_VOTES_CTES = r"""
    WITH feat AS (
        SELECT CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
                                    x -> LEN(x) > 0)) AS BIGINT) AS n_tok,
               CAST(LEN(LIST_DISTINCT(LIST_FILTER(
                   STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
                   x -> LEN(x) > 0))) AS BIGINT) AS n_dis,
               CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
                                    x -> LEN(x) > 15)) AS BIGINT) AS n_long
        FROM documents
    ),
    votes AS (
        SELECT CASE WHEN n_tok >= 50 THEN 1 ELSE 0 END AS ra,
               CASE WHEN n_dis * 5 >= n_tok * 3 THEN 1 ELSE 0 END AS rb,
               CASE WHEN n_long = 0 THEN 1 ELSE 0 END AS rc
        FROM feat
    )"""


_DQ27_ORACLE = _RATER_VOTES_CTES + f""",
    tal AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(ra) AS BIGINT) AS pa,
               CAST(SUM(rb) AS BIGINT) AS pb,
               CAST(SUM(rc) AS BIGINT) AS pc,
               CAST(SUM(ra + rb + rc) AS BIGINT) AS cp,
               CAST(SUM(3 - ra - rb - rc) AS BIGINT) AS cf,
               CAST(SUM((ra + rb + rc) * (ra + rb + rc - 1)
                        + (3 - ra - rb - rc) * (2 - ra - rb - rc)) AS BIGINT)
                   AS s1,
               CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS ab,
               CAST(SUM(CASE WHEN ra = rc THEN 1 ELSE 0 END) AS BIGINT) AS ac,
               CAST(SUM(CASE WHEN rb = rc THEN 1 ELSE 0 END) AS BIGINT) AS bc
        FROM votes
    )
    SELECT n AS n_docs, pa AS pass_a, pb AS pass_b, pc AS pass_c,
           {_FLEISS} AS fleiss_kappa_micro,
           {_cohen("pa", "pb", "ab")} AS kappa_ab_micro,
           {_cohen("pa", "pc", "ac")} AS kappa_ac_micro,
           {_cohen("pb", "pc", "bc")} AS kappa_bc_micro
    FROM tal
"""


@register("dq27_rater_agreement", _DQ27_ORACLE)
def dq27_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ27: inter-rater agreement — Fleiss' kappa across the three
    rater_votes quality raters plus the three pairwise Cohen's
    kappas. THE labeling-QA statistic for training-data pipelines:
    raters that agree no better than chance (kappa ~ 0) mean the
    rubric, not the corpus, is broken — and rule-based raters make the
    operator a rubric-redundancy audit (kappa ~ 1 between two rules
    says one is dead weight in the t29 curation stack). Exactness:
    every tally (per-item vote counts, S1 = sum n_ij(n_ij-1),
    category masses, pairwise agreements) is an exact BIGINT off ONE
    corpus-sized pass; each kappa is a single fixed IEEE chain from
    those integers (_FLEISS/_cohen). At 100 TB: one scan + one 1-row
    frame — agreement is metadata."""
    votes = rater_votes(spark, sf_dir)
    tal = votes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ra").cast("bigint").alias("pa"),
        F.sum("rb").cast("bigint").alias("pb"),
        F.sum("rc").cast("bigint").alias("pc"),
        F.sum(F.col("ra") + F.col("rb") + F.col("rc")).cast("bigint").alias("cp"),
        F.sum(3 - F.col("ra") - F.col("rb") - F.col("rc"))
        .cast("bigint")
        .alias("cf"),
        F.sum(
            (F.col("ra") + F.col("rb") + F.col("rc"))
            * (F.col("ra") + F.col("rb") + F.col("rc") - 1)
            + (3 - F.col("ra") - F.col("rb") - F.col("rc"))
            * (2 - F.col("ra") - F.col("rb") - F.col("rc"))
        )
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(F.col("ra") == F.col("rb"), 1).otherwise(0))
        .cast("bigint")
        .alias("ab"),
        F.sum(F.when(F.col("ra") == F.col("rc"), 1).otherwise(0))
        .cast("bigint")
        .alias("ac"),
        F.sum(F.when(F.col("rb") == F.col("rc"), 1).otherwise(0))
        .cast("bigint")
        .alias("bc"),
    )
    return tal.selectExpr(
        "n AS n_docs",
        "pa AS pass_a",
        "pb AS pass_b",
        "pc AS pass_c",
        f"{_FLEISS} AS fleiss_kappa_micro",
        f"{_cohen('pa', 'pb', 'ab')} AS kappa_ab_micro",
        f"{_cohen('pa', 'pc', 'ac')} AS kappa_ac_micro",
        f"{_cohen('pb', 'pc', 'bc')} AS kappa_bc_micro",
    )
