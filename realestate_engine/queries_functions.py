"""Scalar functions (math/conditional/date/string/array), target
transform + regression metrics, and TPC-H-style benchmark queries
(SURVEY.md §2.8, §2.9 M6-M8/M11, §7.5).

The reference's derived features are all native Column expressions (no
Python UDFs — src/features/feature_engineering.py:182-209); ours keeps
that rule so everything stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from realestate_engine.registry import register, t

EIFFEL_LAT = 48.8584
EIFFEL_LON = 2.2945
EARTH_RADIUS_KM = 6371.0


def haversine_km(lat_col, lon_col, lat2: float, lon2: float):
    """Great-circle distance as a native Column expression (reference:
    src/features/feature_engineering.py:182-209 — the flagship derived
    feature). Pure JVM-side math: codegen'd, no serialization boundary."""
    dlat = F.radians(F.lit(lat2) - lat_col)
    dlon = F.radians(F.lit(lon2) - lon_col)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(F.radians(lat_col)) * F.cos(F.radians(F.lit(lat2))) * F.sin(dlon / 2) ** 2
    )
    return 2 * EARTH_RADIUS_KM * F.asin(F.sqrt(a))


# ---------------------------------------------------------------------------
# F1-F8 — math / conditional scalar functions
# ---------------------------------------------------------------------------


@register(
    "f1_log_guarded",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 0 THEN ROUND(LN(o_totalprice), 6) ELSE NULL END AS log_price
    FROM orders
    """,
)
def f1_log_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: guarded natural log (reference: log features at
    src/features/feature_engineering.py:129-148)."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 0, F.round(F.log("o_totalprice"), 6)).alias("log_price"),
    )


@register(
    "f2_exp",
    "SELECT l_orderkey, l_linenumber, ROUND(EXP(l_discount), 6) AS exp_disc FROM lineitem",
)
def f2_exp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: exp (reference: inverse transform,
    src/features/target_transformer.py:84-87)."""
    li = t(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", F.round(F.exp("l_discount"), 6).alias("exp_disc"))


@register(
    "f3_haversine",
    f"""
    SELECT c_custkey,
           ROUND(2 * {EARTH_RADIUS_KM} * ASIN(SQRT(
               POW(SIN(RADIANS({EIFFEL_LAT} - lat) / 2), 2)
               + COS(RADIANS(lat)) * COS(RADIANS({EIFFEL_LAT}))
                 * POW(SIN(RADIANS({EIFFEL_LON} - lon) / 2), 2)
           )), 4) AS distance_to_eiffel
    FROM (SELECT c_custkey,
                 41.0 + (c_custkey % 1000) * 0.01 AS lat,
                 -5.0 + (c_custkey % 1500) * 0.01 AS lon
          FROM customer)
    """,
)
def f3_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: haversine distance to the Eiffel Tower — the reference's
    flagship derived feature (src/features/feature_engineering.py:182-209)
    over deterministic synthetic coordinates (testdata has no lat/lon)."""
    c = t(spark, sf_dir, "customer")
    lat = 41.0 + (F.col("c_custkey") % 1000) * 0.01
    lon = -5.0 + (F.col("c_custkey") % 1500) * 0.01
    return c.select(
        "c_custkey",
        F.round(haversine_km(lat, lon, EIFFEL_LAT, EIFFEL_LON), 4).alias("distance_to_eiffel"),
    )


@register(
    "f4_guarded_ratio",
    """
    SELECT p_partkey,
           CASE WHEN p_size IS NULL OR p_size <= 0 THEN 0.0
                ELSE ROUND(p_retailprice / p_size, 6) END AS price_per_size
    FROM part
    """,
)
def f4_guarded_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: zero/null-guarded ratio (reference: rooms_per_m2 at
    src/features/feature_engineering.py:110-118)."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.when(F.col("p_size").isNull() | (F.col("p_size") <= 0), F.lit(0.0))
        .otherwise(F.round(F.col("p_retailprice") / F.col("p_size"), 6))
        .alias("price_per_size"),
    )


@register(
    "f5_isin_flag",
    """
    SELECT p_partkey,
           CAST(CASE WHEN p_brand IN ('Brand#1', 'Brand#2', 'Brand#3') THEN 1 ELSE 0 END AS BIGINT) AS is_top_brand
    FROM part
    """,
)
def f5_isin_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: set-membership flag (reference: is_house at
    src/features/feature_engineering.py:121-126)."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.when(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_top_brand"),
    )


@register(
    "f6_quantile_clamp",
    """
    SELECT o_orderkey,
           ROUND(LEAST(GREATEST(o_totalprice, 50000.0), 400000.0), 2) AS price_capped
    FROM orders
    """,
)
def f6_quantile_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: clamp to fitted bounds via least/greatest — one expression,
    not the reference's when-chain (src/features/feature_engineering.py:171-180)."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.round(F.least(F.greatest(F.col("o_totalprice"), F.lit(50000.0)), F.lit(400000.0)), 2).alias(
            "price_capped"
        ),
    )


@register(
    "f8_coalesce_lit",
    """
    SELECT event_id,
           COALESCE(CASE WHEN value >= 10.0 THEN value END, -999.0) AS value_or_default,
           'engine' AS tag
    FROM events
    """,
)
def f8_coalesce_lit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 (reference: F.coalesce at notebooks/01:145, F.lit constants)."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(F.when(F.col("value") >= 10.0, F.col("value")), F.lit(-999.0)).alias("value_or_default"),
        F.lit("engine").alias("tag"),
    )


# ---------------------------------------------------------------------------
# F10 — date / string / array built-ins (SURVEY §2.8 commitment; the
# reference never uses them, the testdata exercises them)
# ---------------------------------------------------------------------------


@register(
    "f10_dates",
    """
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
           CAST(MONTH(o_orderdate) AS INTEGER) AS order_month,
           CAST(QUARTER(o_orderdate) AS INTEGER) AS order_quarter,
           DATE_TRUNC('month', o_orderdate) AS month_start,
           CAST(DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_1995
    FROM orders
    """,
)
def f10_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_1995"
        ),
    )


@register(
    "f10_monthly_revenue",
    """
    SELECT DATE_TRUNC('month', l_shipdate) AS ship_month,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
)
def f10_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc monthly revenue rollup (VERDICT r1 item 4)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("ship_month")
    )


@register(
    "f10_strings",
    """
    SELECT doc_id,
           UPPER(lang) AS lang_upper,
           SUBSTRING(text, 1, 20) AS prefix,
           CAST(LENGTH(text) AS INTEGER) AS text_len,
           CONCAT_WS('-', lang, source) AS lang_source,
           REGEXP_EXTRACT(source, '([0-9]+)', 1) AS source_num,
           CAST(LEVENSHTEIN(lang, SUBSTRING(source, 1, 4)) AS INTEGER) AS lang_src_dist
    FROM documents
    """,
)
def f10_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper("lang").alias("lang_upper"),
        F.substring("text", 1, 20).alias("prefix"),
        F.length("text").alias("text_len"),
        F.concat_ws("-", "lang", "source").alias("lang_source"),
        F.regexp_extract("source", "([0-9]+)", 1).alias("source_num"),
        F.levenshtein("lang", F.substring("source", 1, 4)).alias("lang_src_dist"),
    )


@register(
    "f10_arrays",
    """
    SELECT vec_id,
           CAST(LEN(embedding) AS INTEGER) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
           ROUND(CAST(LIST_MAX(embedding) AS DOUBLE), 6) AS max_elem,
           ROUND(LIST_SUM(LIST_TRANSFORM(embedding, x -> x * x)), 4) AS sq_norm
    FROM embeddings
    """,
)
def f10_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array built-ins over the embedding column: size/element_at/
    array_max/aggregate (higher-order fold for the squared norm)."""
    e = t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_elem"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_elem"),
        F.round(
            F.aggregate("embedding", F.lit(0.0), lambda acc, x: acc + x * x), 4
        ).alias("sq_norm"),
    )


# ---------------------------------------------------------------------------
# M6-M8 — target transform (reference: src/features/target_transformer.py)
# ---------------------------------------------------------------------------


@register(
    "m6_target_stats",
    """
    SELECT COUNT(o_totalprice) AS original_count,
           ROUND(AVG(o_totalprice), 4) AS original_mean,
           ROUND(STDDEV_SAMP(o_totalprice), 4) AS original_std,
           ROUND(AVG(LN(o_totalprice)), 6) AS log_mean,
           ROUND(STDDEV_SAMP(LN(o_totalprice)), 6) AS log_std
    FROM orders
    """,
)
def m6_target_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: TargetTransformer.fit stats in ONE aggregate pass — the
    reference runs two summary().collect() jobs
    (src/features/target_transformer.py:34,43)."""
    o = t(spark, sf_dir, "orders")
    return o.agg(
        F.count("o_totalprice").alias("original_count"),
        F.round(F.avg("o_totalprice"), 4).alias("original_mean"),
        F.round(F.stddev_samp("o_totalprice"), 4).alias("original_std"),
        F.round(F.avg(F.log("o_totalprice")), 6).alias("log_mean"),
        F.round(F.stddev_samp(F.log("o_totalprice")), 6).alias("log_std"),
    )


@register(
    "m7_log_transform",
    """
    SELECT o_orderkey, o_totalprice AS price, ROUND(LN(o_totalprice), 6) AS log_price
    FROM orders
    """,
)
def m7_log_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: add log target column (reference:
    src/features/target_transformer.py:51-66)."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.round(F.log("o_totalprice"), 6).alias("log_price"),
    )


@register(
    "m8_smearing_inverse",
    """
    SELECT o_orderkey,
           ROUND(EXP(LN(o_totalprice)) * EXP(POW(s.log_std, 2) / 2), 2) AS pred_price
    FROM orders
    CROSS JOIN (SELECT STDDEV_SAMP(LN(o_totalprice)) AS log_std FROM orders) s
    """,
)
def m8_smearing_inverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8: log-normal smearing inverse exp(pred)·exp(σ²/2) (reference:
    src/features/target_transformer.py:68-87). The σ scalar stays in the
    plan as a broadcast 1-row join — no driver collect."""
    o = t(spark, sf_dir, "orders")
    stats = o.agg(F.stddev_samp(F.log("o_totalprice")).alias("log_std"))
    return o.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        F.round(F.exp(F.log("o_totalprice")) * F.exp(F.pow("log_std", F.lit(2)) / 2), 2).alias("pred_price"),
    )


@register(
    "m11_regression_metrics_sql",
    """
    WITH pred AS (
        SELECT o_totalprice AS y,
               AVG(o_totalprice) OVER (PARTITION BY o_orderpriority) AS yhat,
               AVG(o_totalprice) OVER () AS ybar
        FROM orders
    )
    SELECT ROUND(SQRT(AVG(POW(y - yhat, 2))), 4) AS rmse,
           ROUND(AVG(ABS(y - yhat)), 4) AS mae,
           ROUND(1 - SUM(POW(y - yhat, 2)) / SUM(POW(y - ybar, 2)), 6) AS r2
    FROM pred
    """,
)
def m11_regression_metrics_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11: rmse/mae/r2 as pure-SQL aggregates so the oracle can verify
    the metric math (reference evaluator: src/models/train.py:126-150).
    The 'model' here is the deterministic per-priority mean predictor.
    yhat (5 per-priority means) and ybar (1 global mean) are computed as
    aggregates and broadcast-joined back — no window funnels the raw
    orders rows through a single task (the oracle's OVER() form is the
    spec, not the plan)."""
    o = t(spark, sf_dir, "orders")
    per_prio = o.groupBy("o_orderpriority").agg(
        F.avg("o_totalprice").alias("yhat")
    )
    global_mean = o.agg(F.avg("o_totalprice").alias("ybar"))
    pred = (
        o.join(F.broadcast(per_prio), "o_orderpriority")
        .crossJoin(F.broadcast(global_mean))
        .select(F.col("o_totalprice").alias("y"), "yhat", "ybar")
    )
    err = F.col("y") - F.col("yhat")
    return pred.agg(
        F.round(F.sqrt(F.avg(err * err)), 4).alias("rmse"),
        F.round(F.avg(F.abs(err)), 4).alias("mae"),
        F.round(1 - F.sum(err * err) / F.sum((F.col("y") - F.col("ybar")) * (F.col("y") - F.col("ybar"))), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# TPC-H-style benchmark headliners (bench.py runs these at sf0.1)
# ---------------------------------------------------------------------------


@register(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy multi-aggregate — partial aggregation
    happens map-side, the shuffle carries ≤ |groups| rows per partition."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-06-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "tpch_q3_shipping_priority",
    """
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → join → agg → top-k."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_region_revenue",
    """
    SELECT r_name, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, revenue DESC
    """,
)
def tpch_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join up the dimension hierarchy; both
    dims broadcast so the fact table shuffles only for the final agg."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("r_name", F.col("revenue").desc())
    )


@register(
    "tpch_q4_priority_late_ship",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def tpch_q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted: testdata lacks commit/receipt dates, so
    'late' = shipped after order date): EXISTS → left-semi join with a
    non-equi residual, then a tiny agg."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        o.join(li, (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q6_forecast_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan+filter+agg — every predicate pushes to the
    parquet scan, no join, no shuffle beyond the final 1-row combine."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@register(
    "tpch_q7_nation_volume",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(YEAR(l_shipdate) AS INT) AS l_year,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND n1.n_nationkey <> n2.n_nationkey
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation shipping volume. The nation dim
    joins twice (supplier side + customer side) — both broadcast, so
    the fact table never shuffles for them.

    Revenue is summed in exact integer units (cents × discount basis
    points) and divided once at the end — no ROUND: prices/discounts
    are 2-decimal, so float sums land exactly on half-cent boundaries
    where the engines' summation orders AND rounding rules (Spark
    rounds the shortest decimal repr HALF_UP, DuckDB rounds the binary
    double) disagree. Identical integers divided by the same constant
    give bit-identical doubles. (At true 100 TB row counts the exact sum would
    use DECIMAL(38,0) to avoid BIGINT overflow.)"""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("n1_key") != F.col("n2_key"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("bigint")
                    * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
                )
                / 10000.0
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1995-10-01' AND o_orderdate < TIMESTAMP '1996-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20 —
    agg then TakeOrderedAndProject (no global sort)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q12_priority_classes",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def tpch_q12_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: shipmode column absent, classify by
    order priority instead): conditional aggregation after a fact-fact
    join."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "tpch_q14_promo_revenue",
    """
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share — part dim broadcasts, single
    conditional-agg pass over the filtered fact."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0 * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0)) / F.sum(disc), 4
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q18_large_orders",
    """
    SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    HAVING SUM(l_quantity) > 150
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders via HAVING on a grouped
    fact-fact join (quantities are integral doubles, so the >150
    threshold is float-exact).

    r14 rewrite (guide §2.3 — aggregate before you shuffle): lineitem
    is summed per l_orderkey FIRST (map-side partial aggregation
    collapses the shuffle to one row per order) and the selective
    HAVING filter prunes before any join, so the joins move only the
    qualifying orders instead of customer x orders x lineitem rows.
    Output-identical: o_orderkey is the orders PK (each group of the
    old 4-key groupBy is exactly one order), the inner joins drop whole
    orders either way, and per-order float sums add the same addends
    in the same grouping. Verified against the unchanged oracle at all
    three SFs."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sum_qty"))
        .filter(F.col("_sum_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round(F.col("_sum_qty"), 2).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@register(
    "tpch_q19_disjunctive_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (adapted to available columns): disjunction of
    conjunctive brand/size/quantity ranges — the join stays an equi hash
    join with the disjunction as a residual filter, not a nested loop."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "f12_json_extract",
    """
    SELECT event_id,
           CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) AS prop_k,
           CAST(JSON_VALID(props) AS BOOLEAN) AS is_valid_json
    FROM events
    """,
)
def f12_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: JSON column handling — schema-on-read extraction from the
    events.props JSON string via from_json with an explicit schema (the
    scale path: one parse per row into a typed struct; get_json_object
    re-parses per extracted field)."""
    ev = t(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "struct<k: bigint>")
    return ev.select(
        "event_id",
        parsed["k"].alias("prop_k"),
        parsed.isNotNull().alias("is_valid_json"),
    )


@register(
    "p10_stratified_sample",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sampled
    FROM events
    WHERE ('0x' || SUBSTR(MD5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 1000 <
          CASE event_type WHEN 'click' THEN 200 WHEN 'view' THEN 200
                          WHEN 'error' THEN 500 ELSE 1000 END
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def p10_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: stratified sampling — the class-balancing primitive of a
    training-data pipeline (downsample the dominant event types, keep
    the rare ones). Membership is decided by a portable multiplicative
    hash of the row key against a per-stratum permille threshold, NOT a
    seeded RNG: the sample is then reproducible across engines, retries
    and stragglers (a re-executed task re-selects the SAME rows — the
    property that makes downstream incremental joins against the sample
    safe), and the driver hash-compares the per-stratum counts exactly.
    sampleBy(fractions, seed) is the API analogue; this is its
    deterministic production form. Same fractions: click/view 20%,
    error 50%, signup/purchase 100%."""
    ev = t(spark, sf_dir, "events")
    h = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 1000
    )
    threshold = (
        F.when(F.col("event_type").isin("click", "view"), 200)
        .when(F.col("event_type") == "error", 500)
        .otherwise(1000)
    )
    return (
        ev.filter(h < threshold)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sampled"))
        .orderBy("event_type")
    )


@register(
    "p11_train_test_split",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(0 AS BIGINT) AS n_overlap,
           TRUE AS partition_complete,
           TRUE AS train_frac_ok
    FROM orders
    """,
)
def p11_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: seeded randomSplit (the 80/20 of the reference's EP2,
    notebooks/03). The split memberships are RNG-implementation-
    specific, so the driver-checked row reports the DETERMINISTIC
    properties a split must satisfy — total size, zero train∩test
    overlap, train∪test == source, and the realized train fraction
    within 0.75..0.85 — as values/booleans the oracle states exactly
    (a broken split flips one and fails the hash); pytest asserts the
    same invariants numerically. For a hash-deterministic split see
    p13_hash_split and dedup_leakage_safe_split."""
    o = t(spark, sf_dir, "orders")
    train, test = o.randomSplit([0.8, 0.2], seed=42)
    n_train, n_test, n_total = train.count(), test.count(), o.count()
    overlap = train.select("o_orderkey").intersect(test.select("o_orderkey")).count()
    return spark.createDataFrame(
        [
            (
                n_total,
                overlap,
                n_train + n_test == n_total,
                0.75 <= n_train / max(n_total, 1) <= 0.85,
            )
        ],
        "n_total long, n_overlap long, partition_complete boolean, train_frac_ok boolean",
    )


@register(
    "f16_mom_growth",
    """
    WITH m AS (
        SELECT DATE_TRUNC('month', o_orderdate) AS month,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1
    )
    SELECT month, rev_cents,
           CAST(LAG(rev_cents) OVER (ORDER BY month) AS BIGINT) AS prev_cents,
           CAST(rev_cents - LAG(rev_cents) OVER (ORDER BY month) AS BIGINT) AS diff_cents
    FROM m ORDER BY month
    """,
)
def f16_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16: month-over-month growth — the reporting staple (monthly
    rollup + lag window + delta). Everything stays in exact integer
    cents: the monthly sums are BIGINT, the lag and the difference are
    BIGINT, so the result hash-compares across engines with no float
    rounding. The ordered window over ~monthly rows is tiny (months,
    not rows); the heavy lifting is the one partial-aggregated rollup
    shuffle."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("bigint").alias("rev_cents")
    )
    # months-sized frame: lag = value at the latest earlier month,
    # fetched with a broadcast non-equi self-join + max_by (months²
    # cells, trivial) instead of an unpartitioned window — keeps every
    # plan free of single-partition WindowExec
    a = m.alias("a")
    b = m.alias("b")
    return (
        a.join(F.broadcast(b), F.col("b.month") < F.col("a.month"), "left")
        .groupBy(
            F.col("a.month").alias("month"), F.col("a.rev_cents").alias("rev_cents")
        )
        .agg(F.max_by(F.col("b.rev_cents"), F.col("b.month")).cast("bigint").alias("prev_cents"))
        .select(
            "month",
            "rev_cents",
            "prev_cents",
            (F.col("rev_cents") - F.col("prev_cents")).cast("bigint").alias("diff_cents"),
        )
        .orderBy("month")
    )


@register(
    "f18_url_parsing",
    """
    WITH urls AS (
        SELECT doc_id,
               'https://' || source || '.example.org/docs/' || lang || '/'
                 || CAST(doc_id AS VARCHAR) || '?ref=corpus&page='
                 || CAST(doc_id % 7 AS VARCHAR) AS url
        FROM documents
    )
    SELECT doc_id,
           REGEXP_EXTRACT(url, '^[a-z]+://([^/]+)', 1) AS host,
           REGEXP_EXTRACT(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
           REGEXP_EXTRACT(url, 'page=([0-9]+)', 1) AS page_param
    FROM urls
    ORDER BY doc_id
    """,
)
def f18_url_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18: URL decomposition — host / path / query-parameter
    extraction, the first step of web-corpus curation (domain-level
    quality lists, per-site dedup keys, crawl-frontier joins). Spark
    side uses the BUILT-IN parse_url expression (JVM, codegen —
    PARSE_URL(url, 'HOST'/'PATH'/'QUERY', key); the oracle states the
    same extraction as anchored regexes since DuckDB has no URL
    functions. URLs are planted deterministically from documents
    columns so both engines see identical input. Narrow map-only
    pass."""
    d = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/docs/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=corpus&page="),
        (F.col("doc_id") % 7).cast("string"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("page")).alias("page_param"),
    ).orderBy("doc_id")


@register(
    "f19_json_array_explode",
    """
    WITH j AS (
        SELECT o_orderkey,
               '[{"q":' || CAST(o_orderkey % 7 AS VARCHAR)
                 || '},{"q":' || CAST(o_orderkey % 11 AS VARCHAR) || '}]' AS payload
        FROM orders WHERE o_orderkey < 500
    )
    SELECT o_orderkey,
           CAST(o_orderkey % 7 + o_orderkey % 11 AS BIGINT) AS q_sum,
           CAST(2 AS BIGINT) AS n_elems
    FROM j
    ORDER BY o_orderkey
    """,
)
def f19_json_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19: JSON ARRAY parsing — from_json into array<struct>, then
    aggregate over the parsed elements with a higher-order expression
    (no explode-shuffle needed for per-row reductions). Completes the
    semi-structured surface next to f12 (struct), f13 (map), f17
    (VARIANT): ragged arrays-of-objects are the most common shape in
    event payloads. The JSON is planted deterministically; the oracle
    states the expected values directly from the generators, so the
    check verifies Spark's parse produces exactly the planted
    numbers."""
    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    payload = F.concat(
        F.lit('[{"q":'),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit('},{"q":'),
        (F.col("o_orderkey") % 11).cast("string"),
        F.lit("}]"),
    )
    parsed = o.select(
        "o_orderkey",
        F.from_json(payload, "array<struct<q:bigint>>").alias("arr"),
    )
    return parsed.select(
        "o_orderkey",
        F.aggregate(F.col("arr"), F.lit(0).cast("bigint"), lambda acc, x: acc + x["q"]).alias("q_sum"),
        F.size("arr").cast("bigint").alias("n_elems"),
    ).orderBy("o_orderkey")


@register(
    "f22_business_days",
    """
    WITH d AS (
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) AS d1,
               CAST(o_orderdate AS DATE) + CAST(o_orderkey % 45 AS INTEGER) AS d2
        FROM orders
    ),
    b AS (
        SELECT o_orderkey, d1, d2,
               (d1 - DATE '1970-01-05') AS n1,
               (d2 - DATE '1970-01-05') AS n2
        FROM d
    )
    SELECT o_orderkey,
           CAST(d1 AS TIMESTAMP) AS d1, CAST(d2 AS TIMESTAMP) AS d2,
           CAST((5 * (n2 // 7) + LEAST(n2 % 7, 5))
              - (5 * (n1 // 7) + LEAST(n1 % 7, 5)) AS BIGINT) AS business_days
    FROM b
    ORDER BY o_orderkey
    """,
)
def f22_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F22: business-day arithmetic in closed form — the SLA metric
    (order age in working days) without a calendar-table join or a
    per-day explode: map each date to its business-day ordinal
    b(d) = 5*(n div 7) + min(n mod 7, 5) where n counts days from a
    Monday epoch (1970-01-05), and subtract. Pure integer date math —
    no per-row sequence generation, no UDF, bit-identical across
    engines; a holiday calendar would add one broadcast anti-join.
    The span here is o_orderkey%45 days so weekend straddles of every
    phase are exercised."""
    o = t(spark, sf_dir, "orders")
    d1 = F.col("o_orderdate").cast("date")
    d2 = F.date_add(d1, (F.col("o_orderkey") % 45).cast("int"))
    n1 = F.datediff(d1, F.lit("1970-01-05").cast("date"))
    n2 = F.datediff(d2, F.lit("1970-01-05").cast("date"))

    def bday(n):
        return 5 * F.expr(f"({n}) div 7") + F.least(F.expr(f"({n}) % 7"), F.lit(5))

    # timestamps on the output (f10_monthly_revenue idiom): DateType
    # reaches pandas as object while DuckDB DATE fetches as datetime64
    out = o.select(
        "o_orderkey",
        d1.cast("timestamp").alias("d1"),
        d2.cast("timestamp").alias("d2"),
        n1.alias("_n1"),
        n2.alias("_n2"),
    ).select(
        "o_orderkey",
        "d1",
        "d2",
        (bday("_n2") - bday("_n1")).cast("bigint").alias("business_days"),
    )
    return out.orderBy("o_orderkey")


_GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_terms(ix: str, iy: str) -> str:
    """Interleave 15 lon bits and 15 lat bits (lon leads, per the
    geohash spec) as a sum of shift terms — same generated-SQL trick
    as the simhash vote assembly; identical text runs on both
    engines."""
    return " + ".join(
        f"((({ix}) // {1 << j}) % 2) * {1 << (2 * j + 1)}"
        f" + ((({iy}) // {1 << j}) % 2) * {1 << (2 * j)}"
        for j in range(15)
    )


def _geohash_oracle_sql() -> str:
    ix = "(lon_micro + 180000000) * 32768 // 360000000"
    iy = "(lat_micro + 90000000) * 32768 // 180000000"
    chars = " || ".join(
        f"SUBSTR('{_GEOHASH_ALPHABET}', CAST((g // {1 << (25 - 5 * i)}) % 32 AS INTEGER) + 1, 1)"
        for i in range(6)
    )
    return f"""
    WITH pts AS (
        SELECT c_custkey,
               41000000 + (c_custkey % 1000) * 10000 AS lat_micro,
               -5000000 + (c_custkey % 1500) * 10000 AS lon_micro
        FROM customer
    ),
    cells AS (
        SELECT c_custkey, CAST({_geohash_terms(ix, iy)} AS BIGINT) AS g FROM pts
    ),
    hashed AS (
        SELECT c_custkey, {chars} AS geohash FROM cells
    )
    SELECT SUBSTR(geohash, 1, 4) AS geohash4,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           MIN(geohash) AS example_geohash
    FROM hashed GROUP BY geohash4 ORDER BY geohash4
    """


@register("f25_geohash_buckets", _geohash_oracle_sql())
def f25_geohash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F25: geohash encoding — the spatial partition/bucketing key that
    makes geo joins scale (neighbors share prefixes, so a prefix
    equi-join replaces the quadratic distance join; j6's integer grid
    is the same idea without the interchange format). Implemented in
    EXACT integer math end to end: coordinates are planted as integer
    micros (the F3 idiom, no float in sight), cell indices are integer
    divisions, the 30-bit lon/lat interleave is a generated
    sum-of-shift-terms (the simhash assembly trick), and base32 chars
    come from SUBSTR on the standard alphabet. Output: customers per
    4-char prefix (~20 km cells) with an example full 6-char hash.

    Plan: pure per-row codegen expressions + one hash-agg on the
    prefix — the only shuffle; at 100 TB geohash4 is exactly the
    partition key you'd bucket by."""
    c = t(spark, sf_dir, "customer")
    ix = "(lon_micro + 180000000) * 32768 DIV 360000000"
    iy = "(lat_micro + 90000000) * 32768 DIV 180000000"
    terms = " + ".join(
        f"((({ix}) DIV {1 << j}) % 2) * {1 << (2 * j + 1)}"
        f" + ((({iy}) DIV {1 << j}) % 2) * {1 << (2 * j)}"
        for j in range(15)
    )
    chars = [
        F.substring(
            F.lit(_GEOHASH_ALPHABET),
            F.expr(f"CAST((g DIV {1 << (25 - 5 * i)}) % 32 AS INT) + 1").cast("int"),
            1,
        )
        for i in range(6)
    ]
    pts = c.select(
        "c_custkey",
        (F.lit(41000000) + (F.col("c_custkey") % 1000) * 10000).cast("long").alias("lat_micro"),
        (F.lit(-5000000) + (F.col("c_custkey") % 1500) * 10000).cast("long").alias("lon_micro"),
    )
    cells = pts.select("c_custkey", F.expr(f"CAST({terms} AS BIGINT)").alias("g"))
    hashed = cells.select("c_custkey", F.concat(*chars).alias("geohash"))
    return (
        hashed.groupBy(F.substring("geohash", 1, 4).alias("geohash4"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.min("geohash").alias("example_geohash"),
        )
        .orderBy("geohash4")
    )


# --- F27: IPv4 parse + longest-prefix-match CIDR classification -------------
#
# The log-pipeline staple: parse dotted-quad strings to u32 integers
# and classify each against a CIDR table by LONGEST matching prefix
# (the routing-table rule, not first-match). Prefix membership is
# pure integer arithmetic — ip DIV 2^(32-len) == net DIV 2^(32-len) —
# with the per-block divisor precomputed in host Python and inlined
# as a literal on BOTH engines, so no shift/pow2 divergence exists.

_CIDR_BLOCKS = [
    # (name, cidr, network u32, mask length)
    ("corp-a", "10.0.0.0/9", 10 << 24, 9),
    ("corp-b", "10.128.0.0/9", (10 << 24) | (128 << 16), 9),
    ("svc-42", "10.0.42.0/24", (10 << 24) | (42 << 8), 24),
]


def _cidr_values_sql() -> str:
    rows = ", ".join(
        f"('{n}', '{c}', {net // (1 << (32 - ln))}, {1 << (32 - ln)}, {ln})"
        for n, c, net, ln in _CIDR_BLOCKS
    )
    return f"(VALUES {rows}) AS b(block_name, cidr, net_prefix, divisor, masklen)"


@register(
    "f27_ipv4_cidr",
    f"""
    WITH ips AS (
        SELECT '10.' || ((o_orderkey // 65536) % 256) || '.'
                     || ((o_orderkey // 256) % 256) || '.'
                     || (o_orderkey % 256) AS ip_str
        FROM orders
    ),
    parsed AS (
        SELECT ip_str,
               CAST(STRING_SPLIT(ip_str, '.')[1] AS BIGINT) * 16777216
             + CAST(STRING_SPLIT(ip_str, '.')[2] AS BIGINT) * 65536
             + CAST(STRING_SPLIT(ip_str, '.')[3] AS BIGINT) * 256
             + CAST(STRING_SPLIT(ip_str, '.')[4] AS BIGINT) AS ip
        FROM ips
    ),
    matched AS (
        SELECT p.ip, b.block_name, b.cidr, b.masklen,
               ROW_NUMBER() OVER (PARTITION BY p.ip, p.ip_str
                                  ORDER BY b.masklen DESC, b.block_name) AS rn
        FROM parsed p JOIN {_cidr_values_sql()}
          ON p.ip // b.divisor = b.net_prefix
    )
    SELECT block_name, cidr,
           CAST(COUNT(*) AS BIGINT) AS n_ips,
           CAST(MIN(ip) AS BIGINT) AS min_ip,
           CAST(MAX(ip) AS BIGINT) AS max_ip
    FROM matched WHERE rn = 1
    GROUP BY block_name, cidr
    ORDER BY block_name
    """,
)
def f27_ipv4_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F27: IPv4 dotted-quad parsing and longest-prefix-match CIDR
    classification — synthesized client IPs (one per order, planted
    into 10.0.0.0/8 from the order key so the parse is a verifiable
    round trip) are split/cast back to u32 and routed against a CIDR
    table by the routing rule: the MOST SPECIFIC matching prefix
    wins (the /24 carve-out beats its covering /9). Membership is
    a fan-out-by-masklen EQUI-join: each ip is exploded once per
    distinct prefix length in the table (a compile-time constant,
    <=33 for IPv4), that length's prefix computed by shiftright, and
    the pair (masklen, prefix) broadcast-HASH-joined against
    (masklen, net_prefix); the winner is a row_number over the <=3
    matches per ip, PARTITIONED by ip. Plan: string split +
    arithmetic in one codegen'd projection, BroadcastHashJoin (no
    nested loop), per-ip dedup, one hash-agg — at 100 TB a linear
    scan with constant fan-out and broadcast join state, the shape
    of every enrich-by-routing-table pass in a log pipeline, and it
    stays a hash join even when the block table grows to 1e6 rows."""
    o = t(spark, sf_dir, "orders").select("o_orderkey")
    ips = o.select(
        F.concat(
            F.lit("10."),
            (F.expr("o_orderkey div 65536") % 256).cast("string"),
            F.lit("."),
            (F.expr("o_orderkey div 256") % 256).cast("string"),
            F.lit("."),
            (F.col("o_orderkey") % 256).cast("string"),
        ).alias("ip_str")
    )
    oct_ = F.split(F.col("ip_str"), r"\.")
    parsed = ips.select(
        "ip_str",
        (
            oct_.getItem(0).cast("bigint") * 16777216
            + oct_.getItem(1).cast("bigint") * 65536
            + oct_.getItem(2).cast("bigint") * 256
            + oct_.getItem(3).cast("bigint")
        ).alias("ip"),
    )
    # Block table built from spark.range (Range scan, not a driver-side
    # ExistingRDD) — element_at over array literals, 1-indexed.
    idx = (F.col("id") + 1).cast("int")
    blocks = spark.range(len(_CIDR_BLOCKS)).select(
        F.element_at(F.array(*[F.lit(n) for n, _, _, _ in _CIDR_BLOCKS]), idx).alias("block_name"),
        F.element_at(F.array(*[F.lit(c) for _, c, _, _ in _CIDR_BLOCKS]), idx).alias("cidr"),
        F.element_at(
            F.array(*[F.lit(net // (1 << (32 - ln))) for _, _, net, ln in _CIDR_BLOCKS]), idx
        ).alias("net_prefix"),
        F.element_at(F.array(*[F.lit(ln) for _, _, _, ln in _CIDR_BLOCKS]), idx).alias("masklen"),
    )
    # Longest-prefix match as an EQUI-join: fan each ip out by the
    # distinct masklens in the table (x|masklens|, a compile-time
    # constant), compute that length's prefix, and broadcast-HASH-join
    # on (masklen, prefix). No nested loop anywhere — the shape that
    # holds when the routing table is 1e6 blocks, because the join key
    # is exact equality, fan-out <= 33, and the dim side broadcasts.
    masklens = sorted({ln for _, _, _, ln in _CIDR_BLOCKS})
    prefix = F.lit(None).cast("bigint")
    for ln in masklens:
        prefix = F.when(
            F.col("masklen") == ln, F.shiftright(F.col("ip"), 32 - ln)
        ).otherwise(prefix)
    fan = parsed.withColumn(
        "masklen", F.explode(F.array(*[F.lit(ln) for ln in masklens]))
    ).withColumn("prefix", prefix)
    matched = fan.join(
        F.broadcast(blocks),
        (fan["masklen"] == blocks["masklen"]) & (F.col("prefix") == F.col("net_prefix")),
        "inner",
    ).drop(blocks["masklen"])
    w_ip = Window.partitionBy("ip", "ip_str").orderBy(F.desc("masklen"), "block_name")
    best = matched.withColumn("rn", F.row_number().over(w_ip)).filter(F.col("rn") == 1)
    return (
        best.groupBy("block_name", "cidr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ips"),
            F.min("ip").cast("bigint").alias("min_ip"),
            F.max("ip").cast("bigint").alias("max_ip"),
        )
        .orderBy("block_name")
    )


# --- F29: Soundex phonetic encoding + blocking census ------------------------

_SOUNDEX_MAP = "01230120022455012623010202"  # a..z -> Soundex digit classes


def _soundex_expr(col: str, duck: bool) -> str:
    """Simplified American Soundex as ONE shared expression tree:
    translate to digit classes, collapse runs per digit (RE2 has no
    backreferences, so the collapse is 7 chained single-digit
    replaces — portable where '(\\d)\\1+' is not), drop the first
    letter's code slot, strip vowel zeros, pad to 3. The h/w
    adjacency exception of full Soundex is deliberately omitted on
    BOTH engines (simplified variant, stated here)."""
    g = ", 'g'" if duck else ""
    x = f"translate({col}, 'abcdefghijklmnopqrstuvwxyz', '{_SOUNDEX_MAP}')"
    for d in "0123456":
        x = f"regexp_replace({x}, '{d}{{2,}}', '{d}'{g})"
    x = f"replace(substr({x}, 2), '0', '')"
    return f"upper(substr({col}, 1, 1)) || substr({x} || '000', 1, 3)"


@register(
    "f29_soundex_blocking",
    f"""
    WITH words AS (
        SELECT UNNEST(STRING_SPLIT(p_name, ' ')) AS w FROM part
    ),
    coded AS (
        SELECT w, {_soundex_expr("w", duck=True)} AS sdx FROM words WHERE w <> ''
    )
    SELECT sdx,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct,
           MIN(w) AS example
    FROM coded
    GROUP BY sdx
    ORDER BY n_words DESC, sdx
    LIMIT 25
    """,
)
def f29_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F29: Soundex phonetic encoding (simplified — no h/w adjacency
    exception, identically on both engines) over the part-name word
    corpus, reported as a blocking census: bucket code, word volume,
    distinct spellings absorbed, an example word. Soundex is the
    classic cheap blocking key for entity resolution (pairs with
    er_fellegi_sunter / er2_sorted_neighborhood): phonetically-close
    misspellings land in one bucket, so the candidate join is an
    equi-join on the code. The encoding is pure codegen'd string ops
    (translate + 7 run-collapse regexp_replaces + pad) — RE2 lacks
    backreferences, so the per-digit collapse chain is the portable
    form of '(\\d)\\1+'. One scan, one hash agg, TakeOrdered 25;
    embarrassingly scalable."""
    p = t(spark, sf_dir, "part").select("p_name")
    words = p.select(F.explode(F.split(F.col("p_name"), " ")).alias("w")).where(
        F.col("w") != ""
    )
    coded = words.select("w", F.expr(_soundex_expr("w", duck=False)).alias("sdx"))
    return (
        coded.groupBy("sdx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.countDistinct("w").cast("bigint").alias("n_distinct"),
            F.min("w").alias("example"),
        )
        .orderBy(F.desc("n_words"), "sdx")
        .limit(25)
    )


# --- F30: Luhn check-digit validation -----------------------------------------
#
# Account numbers synthesized from custkeys (11 digits + the CORRECT
# Luhn check digit for custkey % 3 != 0, an off-by-one corrupted digit
# otherwise) — so the validator provably separates the planted
# populations. The Luhn sum is computed positionally with shared
# arithmetic: from the RIGHT, double every second digit, subtract 9
# above 9.


def _luhn_sql(col: str) -> str:
    """Luhn sum of an 11-digit string + check digit = valid iff % 10 == 0.
    Positions are 1-based from the LEFT over a fixed 12-digit layout,
    so odd left positions are the doubled ones."""
    terms = []
    for i in range(1, 13):
        d = f"CAST(SUBSTR({col}, {i}, 1) AS BIGINT)"
        if i % 2 == 1:  # doubled lane for a 12-digit number
            terms.append(f"(CASE WHEN {d} * 2 > 9 THEN {d} * 2 - 9 ELSE {d} * 2 END)")
        else:
            terms.append(d)
    return " + ".join(terms)


@register(
    "f30_luhn_check",
    f"""
    WITH acct AS (
        SELECT c_custkey,
               LPAD(CAST(c_custkey * 97 + 11 AS VARCHAR), 11, '0') AS body
        FROM customer
    ),
    with_check AS (
        SELECT c_custkey,
               body || CAST(
                 CASE WHEN c_custkey % 3 <> 0
                      THEN (10 - ({_luhn_sql("body || '0'")}) % 10) % 10
                      ELSE ((10 - ({_luhn_sql("body || '0'")}) % 10) % 10 + 1) % 10
                 END AS VARCHAR) AS acct_no
        FROM acct
    )
    SELECT ({_luhn_sql("acct_no")}) % 10 = 0 AS luhn_valid,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(c_custkey) AS BIGINT) AS min_key,
           CAST(MAX(c_custkey) AS BIGINT) AS max_key
    FROM with_check
    GROUP BY 1 ORDER BY 1
    """,
)
def f30_luhn_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F30: Luhn (mod-10) check-digit validation — the checksum behind
    card/IMEI/account identifiers and a standard ingest data-quality
    gate. Account numbers are synthesized per customer with the TRUE
    Luhn check digit for 2/3 of keys and an off-by-one corruption for
    the rest, so the validator's output census (valid vs invalid
    populations, with key ranges) proves it separates them exactly.
    The digit-doubling sum is 12 shared SUBSTR/CASE terms — fixed
    expression text both engines codegen; no UDF, no loop. Scale:
    map-only projection + one 2-group hash agg."""
    c = t(spark, sf_dir, "customer").select("c_custkey")
    acct = c.select(
        "c_custkey",
        F.lpad((F.col("c_custkey") * 97 + 11).cast("string"), 11, "0").alias("body"),
    )
    body0 = _luhn_sql("body || '0'")
    check_expr = f"(10 - ({body0}) % 10) % 10"
    with_check = acct.select(
        "c_custkey",
        F.expr(
            f"body || CAST(CASE WHEN c_custkey % 3 <> 0 THEN {check_expr} "
            f"ELSE ({check_expr} + 1) % 10 END AS STRING)"
        ).alias("acct_no"),
    )
    return (
        with_check.select(
            "c_custkey", F.expr(f"({_luhn_sql('acct_no')}) % 10 = 0").alias("luhn_valid")
        )
        .groupBy("luhn_valid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("c_custkey").cast("bigint").alias("min_key"),
            F.max("c_custkey").cast("bigint").alias("max_key"),
        )
        .orderBy("luhn_valid")
    )


@register(
    "f13_map_functions",
    """
    SELECT event_id,
           'k' AS prop_keys,
           CAST(JSON_EXTRACT(props, '$.k') AS VARCHAR) AS prop_values,
           CAST(1 AS BIGINT) AS n_props
    FROM events
    ORDER BY event_id
    """,
)
def f13_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: map-typed columns — parse the JSON props into
    map<string,bigint> once, then map_keys/map_values/size. The map
    type is the schema-on-read landing zone for ragged key sets (vs
    the fixed-struct parse in f12). Keys/values are serialized to
    comma-joined strings for the compare (array result columns break
    the driver's canonicalization); the testdata carries a single key
    so the oracle states the joined form directly."""
    ev = t(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return ev.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("prop_keys"),
        F.array_join(F.transform(F.map_values(m), lambda v: v.cast("string")), ",").alias(
            "prop_values"
        ),
        F.size(m).cast("bigint").alias("n_props"),
    ).orderBy("event_id")


@register(
    "f14_array_hof_topn",
    """
    SELECT o_custkey,
           SUM(CAST(ROUND(p * 100) AS BIGINT)) FILTER (WHERE rnk <= 3) / 100.0 AS top3_total,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM (
        SELECT o_custkey, o_totalprice AS p,
               ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk
        FROM orders
    )
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def f14_array_hof_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: per-key top-N-of-collection via array higher-order
    functions: collect_list → sort_array desc → slice(3) → aggregate
    in exact cents. One shuffle (the groupBy); the HOF chain runs on
    each grouped array without a second window pass. The oracle states
    the same semantics with a ROW_NUMBER + filtered sum (DuckDB lacks
    Spark's aggregate() lambda)."""
    o = t(spark, sf_dir, "orders")
    top3 = F.slice(F.sort_array(F.collect_list("o_totalprice"), asc=False), 1, 3)
    cents = F.transform(top3, lambda p: F.round(p * 100).cast("bigint"))
    return (
        o.groupBy("o_custkey")
        .agg(
            (
                F.aggregate(cents, F.lit(0).cast("bigint"), lambda a, x: a + x) / 100.0
            ).alias("top3_total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_custkey")
    )


@register(
    "f15_explode_outer",
    """
    WITH arr AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN string_split(text, ' ')[1:3] ELSE [] END AS first_words
        FROM documents
    )
    SELECT doc_id, u.w AS word
    FROM arr LEFT JOIN LATERAL UNNEST(first_words) AS u(w) ON TRUE
    ORDER BY doc_id, word
    """,
)
def f15_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15: null-preserving explode (explode_outer) — rows with empty
    arrays survive as (doc_id, NULL) instead of vanishing, so the
    fan-out keeps the document universe intact (an inner explode
    silently drops docs and corrupts downstream coverage stats)."""
    d = t(spark, sf_dir, "documents")
    arr = d.select(
        "doc_id",
        F.when(
            F.col("lang") == "en", F.slice(F.split(F.col("text"), " "), 1, 3)
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("first_words"),
    )
    return arr.select(
        "doc_id", F.explode_outer("first_words").alias("word")
    ).orderBy("doc_id", "word")


@register(
    "f17_variant_extract",
    """
    SELECT CAST(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) % 10 AS BIGINT) AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total
    FROM events
    GROUP BY k_bucket
    ORDER BY k_bucket
    """,
)
def f17_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17: VARIANT semi-structured type (Spark 4) — parse the events
    props JSON into VARIANT once and extract typed paths with
    variant_get, the open-schema path for JSON columns whose shape
    drifts (vs F12's from_json, which needs the struct declared up
    front). VARIANT keeps a parsed binary form, so repeated path
    extraction doesn't re-parse the string. Oracle states the same
    extraction with DuckDB's JSON operators."""
    ev = t(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        ev.select((k % 10).alias("k_bucket"), k.alias("k"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("k").cast("bigint").alias("k_total"),
        )
        .orderBy("k_bucket")
    )


@register(
    "f26_snowflake_ids",
    """
    WITH ordered AS (
        SELECT event_id, EPOCH_MS(ts) AS ts_ms,
               CAST(user_id % 32 AS BIGINT) AS worker,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id % 32, EPOCH_MS(ts)
                   ORDER BY event_id) - 1 AS seq
        FROM events
    ),
    ids AS (
        SELECT event_id, worker,
               ts_ms * 131072 + worker * 4096 + seq AS snowflake_id
        FROM ordered WHERE seq < 4096
    )
    SELECT CAST(worker AS BIGINT) AS worker,
           CAST(COUNT(*) AS BIGINT) AS n_ids,
           CAST(COUNT(DISTINCT snowflake_id) AS BIGINT) AS n_distinct,
           CAST(MIN(snowflake_id) AS BIGINT) AS min_id,
           CAST(MAX(snowflake_id) AS BIGINT) AS max_id
    FROM ids GROUP BY worker ORDER BY worker
    """,
)
def f26_snowflake_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F26: Snowflake-style distributed ID generation — the
    coordination-free unique-id scheme every large ingest pipeline
    uses: id = timestamp_ms << 17 | worker << 12 | sequence (5 worker
    bits, 12 sequence bits here). The sequence is a ROW_NUMBER
    partitioned by (worker, millisecond) with a deterministic
    tiebreak, so ids are unique BY CONSTRUCTION without any global
    counter — exactly why the scheme scales: each worker mints ids
    from local state only. The audit reports per-worker id counts,
    distinct counts (uniqueness evidence the test pins globally) and
    id ranges (time-ordering evidence: ids sort by timestamp across
    workers).

    Plan: one partitioned ranking window + one hash-agg; the window
    key (worker, ms) is tiny per partition — no global funnel."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy(F.expr("user_id % 32"), F.expr("unix_millis(ts)")).orderBy("event_id")
    ordered = ev.select(
        "event_id",
        F.expr("unix_millis(ts)").alias("ts_ms"),
        F.expr("CAST(user_id % 32 AS BIGINT)").alias("worker"),
        (F.row_number().over(w) - 1).alias("seq"),
    )
    ids = ordered.filter(F.col("seq") < 4096).select(
        "event_id",
        "worker",
        (F.col("ts_ms") * 131072 + F.col("worker") * 4096 + F.col("seq")).alias("snowflake_id"),
    )
    return (
        ids.groupBy(F.col("worker").cast("long").alias("worker"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ids"),
            F.countDistinct("snowflake_id").cast("long").alias("n_distinct"),
            F.min("snowflake_id").cast("long").alias("min_id"),
            F.max("snowflake_id").cast("long").alias("max_id"),
        )
        .orderBy("worker")
    )
