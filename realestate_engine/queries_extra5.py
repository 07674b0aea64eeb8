"""Round-10 assorted operators (new family file per the standing
VERDICT r8 #6 rule — queries_extra.py and queries_experiments.py sit
at the 2,000-LoC line, queries_extra4.py carries round 9; new assorted
operators land here).

Contents: Kruskal-Wallis H (a54), Gini + Lorenz curve (ev30),
Mahalanobis outlier audit (dq26). Full-oracle, integer-exact under the
registry's cross-engine determinism rules (registry.py module
docstring); rank moments follow a51's doubled-average-rank contract,
global ranks come from ordered.distributed_prefix_sum (never an
unpartitioned window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestate_engine.ordered import distributed_prefix_sum
from realestate_engine.queries_experiments import (
    _SURVIVAL_PER_CTE,
    _SURVIVAL_SUBJ_CTES,
    survival_census,
)
from realestate_engine.registry import cache_once, iterate, register, t
from realestate_engine.timeseries import _DAILY_CTE, daily_milli_events

# --- A54: Kruskal-Wallis H (k-group rank ANOVA, tie-corrected) ---------------

# Per-group contribution to H in micro units, ONE shared IEEE chain:
# r2 (doubled rank sum) and the counts are exact BIGINTs, cast to
# DOUBLE identically on both engines (int->double is correctly
# rounded), then a fixed multiply/divide order. With doubled ranks
# R2 = 2R the textbook 12/(N(N+1))*R^2/n becomes 3/(N(N+1))*R2^2/n.
# NOTE: the leading factor is CAST(3 AS DOUBLE), not the literal 3.0 —
# Spark parses decimal literals as DECIMAL and would run the division
# chain in exact decimal arithmetic (HALF_UP at scale 38), diverging
# from DuckDB's IEEE doubles by 1 ulp and flipping the FLOOR.
_KW_HG = (
    "CAST(FLOOR(CAST(3 AS DOUBLE) * r2 * r2 / n_g / n_all / (n_all + 1)"
    " * 1000000) AS BIGINT)"
)

# Tie-correction C = 1 - sum(t^3 - t)/(N^3 - N) in micro units; tie_t
# is an exact BIGINT (t <= N so t^3 <= N^3: BIGINT-safe below ~2M rows
# per distinct value; N^3 as DOUBLE, identical rounding both engines).
_KW_C = (
    "CAST(1000000 - FLOOR(CAST(tie_t AS DOUBLE) * 1000000"
    " / (CAST(n_all AS DOUBLE) * n_all * n_all - n_all)) AS BIGINT)"
)


_KW_H = "GREATEST(h_sum - 3 * (n_all + 1) * 1000000, CAST(0 AS BIGINT))"


def _kw_corr(idiv: str) -> str:
    """Tie-corrected H/C as one all-integer division (operands
    non-negative, where Spark DIV and DuckDB // agree). H itself is
    _KW_H: floored micro, clamped at 0 — per-group floors can push a
    near-zero H a few micros negative."""
    return (
        f"CASE WHEN c_micro <= 0 THEN CAST(0 AS BIGINT)"
        f" ELSE {_KW_H} * 1000000 {idiv} c_micro END"
    )


_A54_ORACLE = f"""
    WITH base AS (
        SELECT o_orderpriority AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    census AS (
        SELECT cents, CAST(COUNT(*) AS BIGINT) AS n_v
        FROM base GROUP BY cents
    ),
    ranked AS (
        SELECT cents, n_v,
               CAST(2 * CAST(SUM(n_v) OVER (ORDER BY cents) AS BIGINT)
                    - n_v + 1 AS BIGINT) AS r2v
        FROM census
    ),
    gv AS (
        SELECT grp, cents, CAST(COUNT(*) AS BIGINT) AS n_gv
        FROM base GROUP BY grp, cents
    ),
    per_group AS (
        SELECT gv.grp,
               CAST(SUM(gv.n_gv) AS BIGINT) AS n_g,
               CAST(SUM(gv.n_gv * r.r2v) AS BIGINT) AS r2
        FROM gv JOIN ranked r ON r.cents = gv.cents
        GROUP BY gv.grp
    ),
    tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n_all,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM per_group
    ),
    hsum AS (
        SELECT CAST(SUM({_KW_HG}) AS BIGINT) AS h_sum
        FROM per_group, tot
    ),
    ties AS (
        SELECT CAST(SUM(n_v * n_v * n_v - n_v) AS BIGINT) AS tie_t
        FROM census
    ),
    cfac AS (SELECT {_KW_C} AS c_micro FROM ties, tot)
    SELECT k AS n_groups, n_all,
           {_KW_H} AS h_micro,
           c_micro AS tie_c_micro,
           {_kw_corr("//")} AS h_corrected_micro
    FROM tot, hsum, cfac
"""


@register("a54_kruskal_wallis", _A54_ORACLE)
def a54_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A54: Kruskal-Wallis H test — do the five order priorities draw
    from the same price distribution? The nonparametric k-group rank
    test, completing the registry's comparison ladder: a30 Welch
    (parametric, 2 groups), a50 ANOVA (parametric, k groups), m59
    Friedman (ranks, BLOCKED design) — this is ranks, UNBLOCKED k
    groups (and with k=2 it IS Mann-Whitney, which is why that is not
    a separate operator). Global average ranks over pooled data are
    computed WITHOUT a global window: a distinct-value census (one
    groupBy), a distributed prefix sum over the census (ordered.py —
    range-partitioned, per-partition windows only), then doubled
    average ranks 2r_v = 2*cum - n_v + 1 stay exact BIGINTs (the a51
    tie contract). Per-group rank sums are a census-sized join, never
    a data-sized sort. H's divisions run in _KW_HG's fixed IEEE chain
    per group (floored micro, order-free BIGINT sum); the tie
    correction and H/C are integer-exact. At 100 TB: two data-sized
    groupBys + census-sized everything else."""
    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    census = base.groupBy("cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v")
    )
    ranked = distributed_prefix_sum(
        census, [F.col("cents")], "n_v", out_col="cum"
    ).select(
        "cents", "n_v", (2 * F.col("cum") - F.col("n_v") + 1).alias("r2v")
    )
    gv = base.groupBy("grp", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gv")
    )
    per_group = (
        gv.join(ranked.select("cents", "r2v"), "cents")
        .groupBy("grp")
        .agg(
            F.sum("n_gv").cast("bigint").alias("n_g"),
            F.sum(F.col("n_gv") * F.col("r2v")).cast("bigint").alias("r2"),
        )
    )
    tot = per_group.agg(
        F.sum("n_g").cast("bigint").alias("n_all"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    hsum = (
        per_group.crossJoin(F.broadcast(tot))
        .selectExpr(f"{_KW_HG} AS h_g")
        .agg(F.sum("h_g").cast("bigint").alias("h_sum"))
    )
    ties = census.agg(
        F.sum(F.col("n_v") * F.col("n_v") * F.col("n_v") - F.col("n_v"))
        .cast("bigint")
        .alias("tie_t")
    )
    cfac = ties.crossJoin(F.broadcast(tot)).selectExpr(f"{_KW_C} AS c_micro")
    return (
        tot.crossJoin(F.broadcast(hsum))
        .crossJoin(F.broadcast(cfac))
        .selectExpr(
            "k AS n_groups",
            "n_all",
            f"{_KW_H} AS h_micro",
            "c_micro AS tie_c_micro",
            f"{_kw_corr('DIV')} AS h_corrected_micro",
        )
    )


# --- EV30: Gini coefficient + Lorenz curve (revenue inequality) --------------

# Gini from the rank identity G = sum((2r_i - n - 1) * x_i) / (n * sum(x))
# with average ranks for ties: the numerator S2 is an exact BIGINT
# (doubled ranks are integers and the per-value contribution is
# vc * (2*cum_n - n_v - N)); one IEEE division chain at the end.
_GINI = (
    "CAST(FLOOR(CAST(s2 AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * total_cents) * 1000000) AS BIGINT)"
)

_EV30_ORACLE = f"""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY o_custkey
    ),
    census AS (
        SELECT cents, CAST(COUNT(*) AS BIGINT) AS n_v,
               CAST(cents * COUNT(*) AS BIGINT) AS vc
        FROM per_cust GROUP BY cents
    ),
    pre AS (
        SELECT cents, n_v, vc,
               CAST(SUM(n_v) OVER (ORDER BY cents) AS BIGINT) AS cum_n,
               CAST(SUM(vc) OVER (ORDER BY cents) AS BIGINT) AS cum_c
        FROM census
    ),
    tot AS (
        SELECT CAST(SUM(n_v) AS BIGINT) AS n,
               CAST(SUM(vc) AS BIGINT) AS total_cents
        FROM census
    ),
    s2f AS (
        SELECT CAST(SUM(vc * (2 * cum_n - n_v - n)) AS BIGINT) AS s2
        FROM pre, tot
    ),
    dec AS (
        SELECT cum_c, (cum_n * 10 - 1) // n + 1 AS decile_v
        FROM pre, tot
    ),
    grid AS (SELECT CAST(UNNEST([1,2,3,4,5,6,7,8,9,10]) AS BIGINT) AS decile),
    lor AS (
        SELECT g.decile,
               COALESCE(MAX(d.cum_c), CAST(0 AS BIGINT)) AS cum_max
        FROM grid g LEFT JOIN dec d ON d.decile_v <= g.decile
        GROUP BY g.decile
    )
    SELECT l.decile,
           CAST(l.cum_max * 1000000 // t.total_cents AS BIGINT)
               AS cum_share_micro,
           {_GINI} AS gini_micro,
           t.n AS n_customers,
           t.total_cents
    FROM lor l, tot t, s2f
    ORDER BY l.decile
"""


@register("ev30_gini_lorenz", _EV30_ORACLE)
def ev30_gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV30: revenue-inequality audit — the exact Gini coefficient of
    per-customer spend plus the 10-point Lorenz curve (cumulative
    spend share at each population decile). ev11 answers "what share
    do the top-decile whales hold?"; this is the full distributional
    readout behind it (Gini = 2x the area between the Lorenz curve and
    equality). Computed on the a54/a51 census contract: one
    customer-sized aggregate, a distinct-value census, distributed
    prefix sums for cumulative count AND cumulative cents (ordered.py,
    no global window), then Gini's rank identity with doubled average
    ranks keeps the numerator an exact BIGINT (safe below ~1e18 =
    n * total_cents ~ sf10; the decimal(38) carry is the documented
    path beyond). Deciles are assigned by integer math
    (cum_n*10-1)//n + 1 — a value whose run CROSSES a decile boundary
    counts in the decile where its last row falls, a deterministic
    convention pinned identically on both engines (COALESCE(...,0)
    covers the degenerate all-one-value corner). Lorenz shares are
    all-integer divisions. 100 TB: everything after the first groupBy
    is census-sized; the 10-row grid is the only broadcast."""
    per_cust = t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    census = per_cust.groupBy("cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v"),
        (F.col("cents") * F.count(F.lit(1))).cast("bigint").alias("vc"),
    )
    pre = distributed_prefix_sum(
        distributed_prefix_sum(census, [F.col("cents")], "n_v", out_col="cum_n"),
        [F.col("cents")],
        "vc",
        out_col="cum_c",
    )
    tot = census.agg(
        F.sum("n_v").cast("bigint").alias("n"),
        F.sum("vc").cast("bigint").alias("total_cents"),
    )
    s2f = (
        pre.crossJoin(F.broadcast(tot))
        .select(
            (
                F.col("vc") * (2 * F.col("cum_n") - F.col("n_v") - F.col("n"))
            ).alias("term")
        )
        .agg(F.sum("term").cast("bigint").alias("s2"))
    )
    dec = pre.crossJoin(F.broadcast(tot)).select(
        "cum_c",
        F.expr("(cum_n * 10 - 1) DIV n + 1").alias("decile_v"),
    )
    grid = spark.createDataFrame([(d,) for d in range(1, 11)], "decile bigint")
    lor = (
        dec.join(F.broadcast(grid), dec.decile_v <= grid.decile, "right")
        .groupBy("decile")
        .agg(
            F.coalesce(F.max("cum_c"), F.lit(0).cast("bigint")).alias("cum_max")
        )
    )
    return (
        lor.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(s2f))
        .select(
            "decile",
            F.expr("cum_max * 1000000 DIV total_cents")
            .cast("bigint")
            .alias("cum_share_micro"),
            F.expr(_GINI).alias("gini_micro"),
            F.col("n").alias("n_customers"),
            "total_cents",
        )
        .orderBy("decile")
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


# --- EV31: empirical-Bayes shrinkage of per-nation rates ----------------------

# Beta-binomial method-of-moments: prior strength K = m(1-m)/v - 1,
# alpha = m*K; shrunk_i = (x_i + alpha)/(n_i + K). m and K are carried
# as already-FLOORED micro integers in the 1-row frame, so the
# per-segment chain starts from identical integers on both engines;
# the between-segment variance v = sum(d_i^2/(n_i*N^3)) uses exact
# BIGINT deviations d_i = x_i*N - X*n_i with the division chain in
# DOUBLE (the d^2 product crosses 2^63 long before the moments do).
_EB_V_TERM = (
    "CAST(FLOOR(CAST(d AS DOUBLE) * d / n / nn / nn / nn * 1000000000000)"
    " AS BIGINT)"
)
_EB_K = (
    "CAST(CASE WHEN v_pico <= 0 THEN 0 ELSE FLOOR("
    "CAST(m_micro AS DOUBLE) / 1000000 * (1 - CAST(m_micro AS DOUBLE) / 1000000)"
    " / (CAST(v_pico AS DOUBLE) / 1000000000000) * 1000000 - 1000000"
    ") END AS BIGINT)"
)
_EB_SHRUNK = (
    "CAST(CASE WHEN v_pico <= 0 THEN m_micro ELSE FLOOR("
    "(x + CAST(m_micro AS DOUBLE) / 1000000 * (CAST(GREATEST(k_micro, 0)"
    " AS DOUBLE) / 1000000))"
    " / (n + CAST(GREATEST(k_micro, 0) AS DOUBLE) / 1000000) * 1000000"
    ") END AS BIGINT)"
)

_EV31_ORACLE = f"""
    WITH seg AS (
        SELECT n.n_name AS nation,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(x) AS BIGINT) AS xx,
               CAST(SUM(x) * 1000000 // SUM(n) AS BIGINT) AS m_micro
        FROM seg
    ),
    vfr AS (
        SELECT CAST(SUM({_EB_V_TERM}) AS BIGINT) AS v_pico
        FROM (SELECT s.n, s.x * t.nn - t.xx * s.n AS d, t.nn
              FROM seg s, tot t)
    ),
    kfr AS (SELECT {_EB_K} AS k_micro FROM tot, vfr)
    SELECT s.nation, s.n AS n_orders, s.x AS n_urgent,
           CAST(s.x * 1000000 // s.n AS BIGINT) AS rate_micro,
           {_EB_SHRUNK} AS shrunk_micro,
           t.m_micro, k.k_micro
    FROM seg s, tot t, vfr, kfr k
    ORDER BY s.nation
"""


@register("ev31_empirical_bayes_shrinkage", _EV31_ORACLE)
def ev31_empirical_bayes_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV31: empirical-Bayes (beta-binomial, method-of-moments)
    shrinkage of per-nation urgent-order rates toward the global rate
    — the estimator behind every "small segments get noisy rates"
    dashboard fix: a nation with 40 orders at 60% urgent shrinks hard
    toward the global mean, a nation with 40,000 barely moves
    ((x_i + alpha)/(n_i + alpha + beta) with alpha + beta = K =
    m(1-m)/v - 1, alpha = mK — Morris/Efron empirical Bayes). Why it
    belongs in a 100 TB engine: the entire posterior fit is METADATA —
    one segment-keyed count, a 25-row frame, and fixed IEEE chains
    from exact integers (deviations d_i = x_i*N - X*n_i exact BIGINT;
    m and K floored to micro in the 1-row frame so every downstream
    chain starts from identical integers cross-engine). Degenerate
    guards pinned: zero between-variance -> full shrink to m;
    overdispersion beyond the binomial max (K < 0) -> no shrink
    (GREATEST(K, 0)). The pytest pins the contraction property:
    every shrunk rate lies between its raw rate and m."""
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    seg = (
        o.join(cust, o.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
        )
    )
    tot = seg.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("x").cast("bigint").alias("xx"),
        F.expr("CAST(SUM(x) * 1000000 DIV SUM(n) AS BIGINT)").alias("m_micro"),
    )
    vfr = (
        seg.crossJoin(F.broadcast(tot))
        .select(
            "n",
            (F.col("x") * F.col("nn") - F.col("xx") * F.col("n")).alias("d"),
            "nn",
        )
        .selectExpr(f"{_EB_V_TERM} AS term")
        .agg(F.sum("term").cast("bigint").alias("v_pico"))
    )
    kfr = (
        tot.crossJoin(F.broadcast(vfr)).selectExpr(f"{_EB_K} AS k_micro")
    )
    return (
        seg.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vfr))
        .crossJoin(F.broadcast(kfr))
        .selectExpr(
            "nation",
            "n AS n_orders",
            "x AS n_urgent",
            "CAST(x * 1000000 DIV n AS BIGINT) AS rate_micro",
            f"{_EB_SHRUNK} AS shrunk_micro",
            "m_micro",
            "k_micro",
        )
        .orderBy("nation")
    )


# --- T34: TextRank keyword extraction (damped pagerank on co-occurrence) ------

_TR_VOCAB = 200
_TR_ROUNDS = 3
_TR_TOPK = 20


def _tr_round_sql(prev: str, out: str) -> str:
    """One damped power-iteration step, ALL integer (the ev26/pagerank
    contract): per-term floor(pi * p_micro / 1e6) then the 0.85 damp as
    *85//100, base (1-d) = 0.15 in 1e9 fixed point; left join keeps
    in-edge-less vocab words at the base rank."""
    return f"""
    {out} AS MATERIALIZED (
        SELECT t.word,
               CAST(150000000 + COALESCE(SUM(
                   v.pi * p.p_micro // 1000000 * 85 // 100), 0) AS BIGINT) AS pi
        FROM top t
        LEFT JOIN pmat p ON p.dst = t.word
        LEFT JOIN {prev} v ON v.word = p.src
        GROUP BY t.word
    )"""


_T34_ORACLE = rf"""
    WITH w AS (
        SELECT STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS words
        FROM documents
    ),
    toks AS (
        SELECT UNNEST(words) AS word, GENERATE_SUBSCRIPTS(words, 1) AS i,
               ROW_NUMBER() OVER () AS doc_row
        FROM w
    ),
    uni AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS nx
            FROM toks WHERE word <> '' GROUP BY word),
    top AS (
        SELECT word, nx, ROW_NUMBER() OVER (ORDER BY nx DESC, word) AS rnk
        FROM uni QUALIFY rnk <= {_TR_VOCAB}
    ),
    big AS (
        SELECT a.word AS w1, b.word AS w2, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks a JOIN toks b ON a.doc_row = b.doc_row AND b.i = a.i + 1
        WHERE a.word <> b.word
        GROUP BY a.word, b.word
    ),
    edges AS MATERIALIZED (
        SELECT e.src, e.dst, CAST(SUM(e.c) AS BIGINT) AS wgt FROM (
            SELECT b.w1 AS src, b.w2 AS dst, b.c FROM big b
            JOIN top t1 ON t1.word = b.w1 JOIN top t2 ON t2.word = b.w2
            UNION ALL
            SELECT b.w2 AS src, b.w1 AS dst, b.c FROM big b
            JOIN top t1 ON t1.word = b.w1 JOIN top t2 ON t2.word = b.w2
        ) e GROUP BY e.src, e.dst
    ),
    outw AS (SELECT src, CAST(SUM(wgt) AS BIGINT) AS wsum FROM edges GROUP BY src),
    pmat AS MATERIALIZED (
        SELECT e.src, e.dst,
               CAST(e.wgt * 1000000 // o.wsum AS BIGINT) AS p_micro
        FROM edges e JOIN outw o ON o.src = e.src
    ),
    p0 AS (SELECT word, CAST(1000000000 AS BIGINT) AS pi FROM top),
    {",".join(_tr_round_sql(f"p{i}", f"p{i + 1}") for i in range(_TR_ROUNDS))}
    SELECT p.word AS keyword, p.pi AS rank_nano, t.nx AS n_occurrences
    FROM p{_TR_ROUNDS} p JOIN top t ON t.word = p.word
    ORDER BY p.pi DESC, p.word LIMIT {_TR_TOPK}
"""


@register("t34_textrank_keywords", _T34_ORACLE)
def t34_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T34: TextRank keyword extraction (Mihalcea-Tarau 2004) — damped
    pagerank over the word co-occurrence graph, the unsupervised
    keyword/keyphrase primitive for corpus labeling and index-term
    selection. Graph: adjacent-word pairs (window 1, self-loops
    dropped) restricted to the top-{v} vocabulary by (freq DESC, word)
    — a BOUNDED graph, so after the corpus-sized token explode every
    frame is vocab-sized regardless of SF; symmetrized like the trade
    graph. Ranks run the ev26/pagerank ALL-INTEGER contract in 1e9
    fixed point: transition probs floored to micro once, each round is
    per-term floor(pi*p/1e6)*85//100 + 0.15e9 with left joins keeping
    in-edge-less words at the base (dangling mass is dropped, the
    classic simplified TextRank; identical on both engines — no IEEE
    anywhere). {r} unrolled rounds, then top-{k} by (rank DESC, word).
    Spark builds bigrams with zip_with against the 1-shifted word
    array (the t15 posture — no positional self-join); the oracle can
    afford GENERATE_SUBSCRIPTS. 100 TB: one explode + two hash aggs at
    corpus scale, everything after is a {v}-row graph.""".format(
        v=_TR_VOCAB, r=_TR_ROUNDS, k=_TR_TOPK
    )
    d = t(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    toks = d.select(F.explode(words).alias("word")).where(F.col("word") != "")
    uni = toks.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("nx"))
    top = uni.orderBy(F.desc("nx"), "word").limit(_TR_VOCAB)
    pairs = F.filter(
        F.zip_with(
            words,
            F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda s: s["w2"].isNotNull() & (s["w1"] != s["w2"]),
    )
    big = (
        d.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tv = F.broadcast(top.select(F.col("word").alias("t_w")))
    bigv = (
        big.join(tv, big.w1 == F.col("t_w")).drop("t_w")
        .join(tv, big.w2 == F.col("t_w")).drop("t_w")
    )
    edges = (
        bigv.select(F.col("w1").alias("src"), F.col("w2").alias("dst"), "c")
        .unionByName(
            bigv.select(F.col("w2").alias("src"), F.col("w1").alias("dst"), "c")
        )
        .groupBy("src", "dst")
        .agg(F.sum("c").cast("bigint").alias("wgt"))
    )
    outw = edges.groupBy("src").agg(F.sum("wgt").cast("bigint").alias("wsum"))
    pmat = (
        edges.join(outw, "src")
        .selectExpr("src", "dst", "CAST(wgt * 1000000 DIV wsum AS BIGINT) AS p_micro")
        .localCheckpoint()
    )

    def step(pi: DataFrame, r: int) -> DataFrame:
        contrib = pmat.join(pi, pi.word == pmat.src).selectExpr(
            "dst", "pi * p_micro DIV 1000000 * 85 DIV 100 AS term"
        )
        return (
            top.select("word")
            .join(
                contrib.groupBy("dst").agg(F.sum("term").alias("s")),
                F.col("word") == F.col("dst"),
                "left",
            )
            .select(
                "word",
                (F.lit(150000000) + F.coalesce(F.col("s"), F.lit(0)))
                .cast("bigint")
                .alias("pi"),
            )
        )

    pi0 = top.select("word", F.lit(1000000000).cast("bigint").alias("pi"))
    pi = iterate(pi0, step, _TR_ROUNDS)[-1]
    return (
        pi.join(top.select("word", "nx"), "word")
        .select(
            F.col("word").alias("keyword"),
            F.col("pi").alias("rank_nano"),
            F.col("nx").alias("n_occurrences"),
        )
        .orderBy(F.desc("rank_nano"), "keyword")
        .limit(_TR_TOPK)
    )


# --- TS20: Haar wavelet energy by scale (dyadic 16-day window) ----------------

_HAAR_LEVELS = 4


def _haar_level_sql(prev: str, k: int) -> str:
    """One unnormalized Haar level: pair (2i, 2i+1) -> detail = even -
    odd, approx = even + odd. All integers; energies are sums of
    squared BIGINT details."""
    return f"""
    lvl{k} AS MATERIALIZED (
        SELECT o // 2 AS o,
               CAST(SUM(CASE WHEN o % 2 = 0 THEN x ELSE -x END) AS BIGINT) AS d,
               CAST(SUM(x) AS BIGINT) AS x
        FROM {prev} GROUP BY o // 2
    ),
    en{k} AS (
        SELECT CAST({k} AS BIGINT) AS level,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(d * d) AS BIGINT) AS energy
        FROM lvl{k}
    )"""


_TS20_ORACLE = _DAILY_CTE + f""",
    win AS (
        SELECT day_idx, v // 100000 AS x, ROW_NUMBER() OVER (ORDER BY day_idx) - 1 AS o
        FROM daily QUALIFY o < 16
    ),
    lvl0 AS (SELECT o, x FROM win),
    {",".join(_haar_level_sql(f"lvl{k - 1}", k) for k in range(1, _HAAR_LEVELS + 1))},
    allen AS (
        {" UNION ALL ".join(f"SELECT * FROM en{k}" for k in range(1, _HAAR_LEVELS + 1))}
    ),
    tot AS (SELECT CAST(SUM(energy) AS BIGINT) AS e_tot FROM allen)
    SELECT level, n_pairs, energy,
           CAST(CASE WHEN e_tot = 0 THEN 0
                ELSE energy * 1000000 // e_tot END AS BIGINT) AS share_micro
    FROM allen, tot ORDER BY level
"""


@register("ts20_haar_energy", _TS20_ORACLE)
def ts20_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS20: Haar wavelet energy by scale over the first 16 observed
    days — which time scale carries the variation: day-to-day noise
    (level 1), 2-4-day swings, or the 8-16-day regime (level 4)? The
    time-LOCALIZED complement to ts14's periodogram (Fourier smears a
    burst across all frequencies; Haar pins it to a scale and epoch) —
    the classic multi-resolution feature for training-series triage.
    Exactness: UNNORMALIZED Haar — detail = even - odd, approx = even
    + odd — keeps every coefficient an exact BIGINT (the 2^(k/2)
    normalizer cancels in energy SHARES, which is what the operator
    reports; raw energies are also emitted per level). Daily values
    are pre-scaled DIV 1e5 so level-4 squared details stay BIGINT at
    any SF. The 16-day ordinal comes from the t19 broadcast rank-join
    idiom (a 16-row frame earns no window, and an unpartitioned window
    is banned); levels are 4 chained 16->8->4->2-row aggregates. One
    events-sized groupBy; metadata after."""
    daily = daily_milli_events(spark, sf_dir).groupBy("day_idx").agg(
        F.expr("sum(v) div 100000").cast("bigint").alias("x")
    )
    win16 = daily.orderBy("day_idx").limit(16)
    a = win16.select(F.col("day_idx").alias("a_d"), F.col("x").alias("a_x"))
    lvl = (
        a.join(F.broadcast(win16), F.col("day_idx") <= F.col("a_d"))
        .groupBy("a_d", "a_x")
        .agg((F.count(F.lit(1)) - 1).alias("o"))
        .select("o", F.col("a_x").alias("x"))
    )
    energies = []
    for k in range(1, _HAAR_LEVELS + 1):
        nxt = lvl.groupBy(F.expr("o div 2").alias("o")).agg(
            F.sum(F.when(F.col("o") % 2 == 0, F.col("x")).otherwise(-F.col("x")))
            .cast("bigint")
            .alias("d"),
            F.sum("x").cast("bigint").alias("x"),
        )
        energies.append(
            nxt.agg(
                F.lit(k).cast("bigint").alias("level"),
                F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                F.sum(F.col("d") * F.col("d")).cast("bigint").alias("energy"),
            )
        )
        lvl = nxt.select("o", "x")
    allen = energies[0]
    for e in energies[1:]:
        allen = allen.unionByName(e)
    tot = allen.agg(F.sum("energy").cast("bigint").alias("e_tot"))
    return (
        allen.crossJoin(F.broadcast(tot))
        .selectExpr(
            "level",
            "n_pairs",
            "energy",
            "CAST(CASE WHEN e_tot = 0 THEN 0"
            " ELSE energy * 1000000 DIV e_tot END AS BIGINT) AS share_micro",
        )
        .orderBy("level")
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


# --- EV32: Cox proportional hazards (binary covariate, 2 Newton rounds) -------

# One Newton round of the Breslow partial likelihood with a BINARY
# covariate: the risk-set weight is e^beta for group 1, 1 for group 0,
# so score and information reduce to per-event-time terms over the
# suffix counts (n1r, n0r). beta is carried as an already-FLOORED
# micro integer between rounds (the m43/m54 fixed-point Newton
# contract), so each round's EXP sees the identical double on both
# engines. Platform caveat (the a53 LN / ts14 cos class): libm EXP is
# 1-ulp, not correctly rounded — cross-engine floor equality is
# SF-certified empirical; both engines do take EXP of the identical
# rational beta_micro/1e6.


def _cox_w(beta: str) -> str:
    return f"EXP(CAST({beta} AS DOUBLE) / 1000000)"


def _cox_u_term(beta: str) -> str:
    w = _cox_w(beta)
    return (
        f"CAST(FLOOR((d_g1 - CAST(da AS DOUBLE) * (n1r * {w})"
        f" / (n1r * {w} + n0r)) * 1000000) AS BIGINT)"
    )


def _cox_i_term(beta: str) -> str:
    w = _cox_w(beta)
    return (
        f"CAST(FLOOR(CAST(da AS DOUBLE) * (n1r * {w}) * n0r"
        f" / ((n1r * {w} + n0r) * (n1r * {w} + n0r)) * 1000000) AS BIGINT)"
    )


_COX_STEP = (
    "CAST(CASE WHEN i_micro <= 0 THEN prev_beta ELSE prev_beta"
    " + FLOOR(CAST(u_micro AS DOUBLE) / i_micro * 1000000) END AS BIGINT)"
)

_EV32_ORACLE = _SURVIVAL_SUBJ_CTES + _SURVIVAL_PER_CTE + f""",
    at_risk AS MATERIALIZED (
        SELECT a.dur, a.d_all AS da, a.d_g1,
               CAST(SUM(b.n_g1) AS BIGINT) AS n1r,
               CAST(SUM(b.n - b.n_g1) AS BIGINT) AS n0r
        FROM per a JOIN per b ON b.dur >= a.dur
        GROUP BY a.dur, a.d_all, a.d_g1
        HAVING a.d_all > 0
    ),
    r1 AS (
        SELECT CAST(SUM({_cox_u_term("0")}) AS BIGINT) AS u_micro,
               CAST(SUM({_cox_i_term("0")}) AS BIGINT) AS i_micro,
               CAST(0 AS BIGINT) AS prev_beta
        FROM at_risk
    ),
    b1 AS (SELECT {_COX_STEP} AS beta1 FROM r1),
    r2 AS (
        SELECT CAST(SUM({_cox_u_term("beta1")}) AS BIGINT) AS u_micro,
               CAST(SUM({_cox_i_term("beta1")}) AS BIGINT) AS i_micro,
               CAST(MAX(beta1) AS BIGINT) AS prev_beta
        FROM at_risk, b1
    ),
    b2 AS (SELECT {_COX_STEP} AS beta2, u_micro AS u2_micro,
                  i_micro AS i2_micro FROM r2),
    sizes AS (
        SELECT CAST(SUM(n_g1) AS BIGINT) AS n1_subjects,
               CAST(SUM(n - n_g1) AS BIGINT) AS n2_subjects,
               CAST(SUM(d_all) AS BIGINT) AS events_total
        FROM per
    )
    SELECT s.n1_subjects, s.n2_subjects, s.events_total,
           b1.beta1 AS beta1_micro, b2.beta2 AS beta2_micro,
           CAST(FLOOR({_cox_w("beta2")} * 1000000) AS BIGINT)
               AS hazard_ratio_micro,
           b2.u2_micro, b2.i2_micro
    FROM sizes s, b1, b2
"""


@register("ev32_cox_proportional_hazards", _EV32_ORACLE)
def ev32_cox_proportional_hazards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV32: Cox proportional-hazards fit (binary covariate, Breslow
    ties, 2 unrolled Newton rounds) — the REGRESSION member of the
    survival family: ev13 Kaplan-Meier draws the curves, ev27 log-rank
    tests them, m24 AFT fits a parametric model; Cox estimates the
    hazard RATIO semi-parametrically, and with a binary covariate its
    round-1 score IS the log-rank numerator (the classic identity —
    pinned by the pytest). Reads survival_census, as ev27 does.
    Exactness: the at-risk suffix counts are exact BIGINTs; each
    Newton round floors beta to micro (the m43/m54 fixed-point
    contract) so the next round's EXP sees the identical double on
    both engines — with the a53-class caveat that libm EXP is 1-ulp,
    certified empirically at all three SFs; score/information terms
    are per-time floored micros summed order-free. Plan: one scan, a
    days-bounded non-equi self-join, then two metadata-sized Newton
    passes over the cached risk ledger."""
    per = survival_census(spark, sf_dir)

    a, b = per.alias("a"), per.alias("b")
    at_risk = cache_once(
        a.join(F.broadcast(b), F.col("b.dur") >= F.col("a.dur"))
        .groupBy(
            F.col("a.dur").alias("dur"),
            F.col("a.d_all").alias("da"),
            F.col("a.d_g1").alias("d_g1"),
        )
        .agg(
            F.sum("b.n_g1").cast("bigint").alias("n1r"),
            F.sum(F.col("b.n") - F.col("b.n_g1")).cast("bigint").alias("n0r"),
        )
        .where(F.col("da") > 0)
    )
    r1 = at_risk.agg(
        F.sum(F.expr(_cox_u_term("0"))).cast("bigint").alias("u_micro"),
        F.sum(F.expr(_cox_i_term("0"))).cast("bigint").alias("i_micro"),
        F.lit(0).cast("bigint").alias("prev_beta"),
    )
    b1 = r1.selectExpr(f"{_COX_STEP} AS beta1")
    r2 = (
        at_risk.crossJoin(F.broadcast(b1))
        .agg(
            F.sum(F.expr(_cox_u_term("beta1"))).cast("bigint").alias("u_micro"),
            F.sum(F.expr(_cox_i_term("beta1"))).cast("bigint").alias("i_micro"),
            F.max("beta1").cast("bigint").alias("prev_beta"),
        )
    )
    b2 = r2.selectExpr(
        f"{_COX_STEP} AS beta2", "u_micro AS u2_micro", "i_micro AS i2_micro"
    )
    sizes = per.agg(
        F.sum("n_g1").cast("bigint").alias("n1_subjects"),
        F.sum(F.col("n") - F.col("n_g1")).cast("bigint").alias("n2_subjects"),
        F.sum("d_all").cast("bigint").alias("events_total"),
    )
    return (
        sizes.crossJoin(F.broadcast(b1))
        .crossJoin(F.broadcast(b2))
        .selectExpr(
            "n1_subjects",
            "n2_subjects",
            "events_total",
            "beta1 AS beta1_micro",
            "beta2 AS beta2_micro",
            f"CAST(FLOOR({_cox_w('beta2')} * 1000000) AS BIGINT)"
            " AS hazard_ratio_micro",
            "u2_micro",
            "i2_micro",
        )
    )


# --- M62: Dawid-Skene label aggregation (2 EM rounds, all-integer) ------------

# The E-step likelihood products run entirely in micro fixed point:
# ((prior * t_a DIV 1e6) * t_b DIV 1e6) * t_c DIV 1e6 — each DIV is a
# defined floor in the operator's fixed-point semantics, so there is
# NO IEEE anywhere in this operator (stronger than the m43/m54 class,
# which floors between-round state but runs doubles inside a round).
_DS_P0 = "CAST((ra + rb + rc) * 1000000 // 3 AS BIGINT)"


def _ds_m_step(pfr: str, out: str) -> str:
    """M-step: prior + per-rater sensitivity/specificity from the
    pattern census weighted by current posteriors (all BIGINT micros;
    degenerate all-0/all-1 posteriors guard with CASE)."""
    se = lambda v: (  # noqa: E731
        f"CAST(CASE WHEN SUM(c * p) = 0 THEN 500000 ELSE"
        f" SUM(c * p * {v}) * 1000000 // SUM(c * p) END AS BIGINT)"
    )
    sp = lambda v: (  # noqa: E731
        f"CAST(CASE WHEN SUM(c * (1000000 - p)) = 0 THEN 500000 ELSE"
        f" SUM(c * (1000000 - p) * (1 - {v})) * 1000000"
        f" // SUM(c * (1000000 - p)) END AS BIGINT)"
    )
    return f"""
    {out} AS (
        SELECT CAST(SUM(c * p) // SUM(c) AS BIGINT) AS prior,
               {se("ra")} AS se_a, {sp("ra")} AS sp_a,
               {se("rb")} AS se_b, {sp("rb")} AS sp_b,
               {se("rc")} AS se_c, {sp("rc")} AS sp_c
        FROM {pfr}
    )"""


def _ds_e_step(pfr: str, mfr: str, out: str) -> str:
    """E-step: per-pattern posterior from the current rater params —
    3-factor fixed-point likelihood products, one integer division."""
    t = lambda v, se: f"CASE WHEN {v} = 1 THEN {se} ELSE 1000000 - {se} END"  # noqa: E731
    u = lambda v, sp: f"CASE WHEN {v} = 1 THEN 1000000 - {sp} ELSE {sp} END"  # noqa: E731
    l1 = (
        f"((prior * ({t('ra', 'se_a')}) // 1000000)"
        f" * ({t('rb', 'se_b')}) // 1000000)"
        f" * ({t('rc', 'se_c')}) // 1000000"
    )
    l0 = (
        f"(((1000000 - prior) * ({u('ra', 'sp_a')}) // 1000000)"
        f" * ({u('rb', 'sp_b')}) // 1000000)"
        f" * ({u('rc', 'sp_c')}) // 1000000"
    )
    return f"""
    {out} AS (
        SELECT f.ra, f.rb, f.rc, f.c,
               CAST(CASE WHEN ({l1}) + ({l0}) = 0 THEN m.prior
                    ELSE ({l1}) * 1000000 // (({l1}) + ({l0}))
                    END AS BIGINT) AS p
        FROM {pfr} f, {mfr} m
    )"""


_M62_ORACLE = _RATER_VOTES_CTES + f""",
    pat0 AS (
        SELECT ra, rb, rc, CAST(COUNT(*) AS BIGINT) AS c,
               {_DS_P0} AS p
        FROM votes GROUP BY ra, rb, rc
    ),
    {_ds_m_step("pat0", "m1")},
    {_ds_e_step("pat0", "m1", "pat1")},
    {_ds_m_step("pat1", "m2")},
    {_ds_e_step("pat1", "m2", "pat2")}
    SELECT f.ra AS vote_a, f.rb AS vote_b, f.rc AS vote_c,
           f.c AS n_docs, f.p AS posterior_micro,
           m.prior AS prior_micro,
           m.se_a AS se_a_micro, m.sp_a AS sp_a_micro,
           m.se_b AS se_b_micro, m.sp_b AS sp_b_micro,
           m.se_c AS se_c_micro, m.sp_c AS sp_c_micro
    FROM pat2 f, m2 m
    ORDER BY vote_a, vote_b, vote_c
"""


@register("m62_dawid_skene", _M62_ORACLE)
def m62_dawid_skene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M62: Dawid-Skene label aggregation (binary, 3 raters, 2 EM
    rounds) — THE crowdsourcing/annotation-fusion algorithm: infer
    per-rater sensitivity/specificity and per-item posteriors jointly,
    so a rater that rubber-stamps everything gets down-weighted where
    majority vote cannot tell. Raters are rater_votes, as in dq27,
    making the pair an annotation-QA suite: dq27 says whether
    raters agree, m62 says WHO to trust and what the fused label is.
    THE scale story: docs collapse to the 8-row vote-pattern census
    after one scan, so both EM rounds run on metadata — at 100 TB the
    M/E steps cost the same as at 1 GB (this is why pattern-census DS
    is the production form). Exactness: ALL integer — posteriors and
    params live in micro fixed point, the 3-factor likelihood products
    are chained integer x*y//1e6 floors (stronger than the m43 class:
    no IEEE inside rounds either); degenerate guards (zero posterior
    mass -> 0.5, zero likelihood -> prior) pinned identically. The
    pytest replays both rounds exactly and checks the fused posterior
    ordering follows vote counts."""
    votes = rater_votes(spark, sf_dir)
    pat = (
        votes.groupBy("ra", "rb", "rc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .selectExpr("ra", "rb", "rc", "c", f"{_DS_P0.replace('//', 'DIV')} AS p")
    )
    m = None

    def _se(v: str) -> str:
        return (
            f"CAST(CASE WHEN SUM(c * p) = 0 THEN 500000"
            f" ELSE SUM(c * p * {v}) * 1000000 DIV SUM(c * p) END AS BIGINT)"
        )

    def _sp(v: str) -> str:
        return (
            f"CAST(CASE WHEN SUM(c * (1000000 - p)) = 0 THEN 500000"
            f" ELSE SUM(c * (1000000 - p) * (1 - {v})) * 1000000"
            f" DIV SUM(c * (1000000 - p)) END AS BIGINT)"
        )

    for _ in range(2):
        m = pat.agg(
            F.expr("CAST(SUM(c * p) DIV SUM(c) AS BIGINT)").alias("prior"),
            F.expr(_se("ra")).alias("se_a"),
            F.expr(_sp("ra")).alias("sp_a"),
            F.expr(_se("rb")).alias("se_b"),
            F.expr(_sp("rb")).alias("sp_b"),
            F.expr(_se("rc")).alias("se_c"),
            F.expr(_sp("rc")).alias("sp_c"),
        )
        t_ = lambda v, se: f"CASE WHEN {v} = 1 THEN {se} ELSE 1000000 - {se} END"  # noqa: E731
        u_ = lambda v, sp: f"CASE WHEN {v} = 1 THEN 1000000 - {sp} ELSE {sp} END"  # noqa: E731
        l1 = (
            f"((prior * ({t_('ra', 'se_a')}) DIV 1000000)"
            f" * ({t_('rb', 'se_b')}) DIV 1000000)"
            f" * ({t_('rc', 'se_c')}) DIV 1000000"
        )
        l0 = (
            f"(((1000000 - prior) * ({u_('ra', 'sp_a')}) DIV 1000000)"
            f" * ({u_('rb', 'sp_b')}) DIV 1000000)"
            f" * ({u_('rc', 'sp_c')}) DIV 1000000"
        )
        pat = pat.crossJoin(F.broadcast(m)).selectExpr(
            "ra", "rb", "rc", "c",
            f"CAST(CASE WHEN ({l1}) + ({l0}) = 0 THEN prior"
            f" ELSE ({l1}) * 1000000 DIV (({l1}) + ({l0}))"
            f" END AS BIGINT) AS p",
        )
    return pat.crossJoin(F.broadcast(m)).selectExpr(
        "ra AS vote_a", "rb AS vote_b", "rc AS vote_c",
        "c AS n_docs", "p AS posterior_micro",
        "prior AS prior_micro",
        "se_a AS se_a_micro", "sp_a AS sp_a_micro",
        "se_b AS se_b_micro", "sp_b AS sp_b_micro",
        "se_c AS se_c_micro", "sp_c AS sp_c_micro",
    ).orderBy("vote_a", "vote_b", "vote_c")


# --- M63: tie-aware average precision (PR-AUC companion to m23) ---------------

# Per-score-block contribution: all p positives in a tie block take the
# block-END precision (T0+p)/(N0+b) — the deterministic tie-collapsed
# step convention (sklearn's 'average_precision' interpolates the same
# way when ties are collapsed). One all-integer division per block.
_AP_TERM = "CAST(p * (t0 + p) * 1000000 // (n0 + b) AS BIGINT)"

_M63_ORACLE = f"""
    WITH scored AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS score,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    census AS (
        SELECT score, CAST(COUNT(*) AS BIGINT) AS b,
               CAST(SUM(y) AS BIGINT) AS p
        FROM scored GROUP BY score
    ),
    pre AS (
        SELECT b, p,
               CAST(SUM(b) OVER (ORDER BY score DESC) - b AS BIGINT) AS n0,
               CAST(SUM(p) OVER (ORDER BY score DESC) - p AS BIGINT) AS t0
        FROM census
    ),
    terms AS (
        SELECT CAST(SUM(CASE WHEN p > 0 THEN {_AP_TERM} ELSE 0 END)
                    AS BIGINT) AS s
        FROM pre
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS n_pos
        FROM scored
    )
    SELECT t.n, t.n_pos,
           CAST(s // t.n_pos AS BIGINT) AS ap_micro,
           CAST(t.n_pos * 1000000 // t.n AS BIGINT) AS prevalence_micro
    FROM terms, tot t
"""


@register("m63_average_precision", _M63_ORACLE)
def m63_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M63: tie-aware average precision (the PR-AUC summary) of order
    price as a ranker for high priority — the imbalanced-eval
    companion to m23's rank-sum ROC AUC (ROC is prevalence-blind; AP
    degrades with prevalence, which is why retrieval and rare-event
    evals report it). A random ranker's AP equals the prevalence, so
    the output carries both for comparison. Exactness: scores collapse
    to a distinct-value census; cumulative (TP, N) above each tie
    block come from a distributed prefix sum over the census in
    DESCENDING score order (ordered.py — no global window); every
    block contributes p * (T0+p) * 1e6 // (N0+b), the deterministic
    tie-collapsed step convention, ONE integer division per block;
    AP = S // n_pos. No IEEE anywhere. 100 TB: one data-sized groupBy,
    census-sized everything after."""
    scored = t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("score"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("y"),
    )
    census = scored.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("b"),
        F.sum("y").cast("bigint").alias("p"),
    ).withColumn("neg_score", -F.col("score"))
    pre = distributed_prefix_sum(
        distributed_prefix_sum(census, [F.col("neg_score")], "b", out_col="cum_b"),
        [F.col("neg_score")],
        "p",
        out_col="cum_p",
    ).select(
        "b",
        "p",
        (F.col("cum_b") - F.col("b")).alias("n0"),
        (F.col("cum_p") - F.col("p")).alias("t0"),
    )
    terms = pre.selectExpr(
        f"CASE WHEN p > 0 THEN {_AP_TERM.replace('//', 'DIV')}"
        " ELSE CAST(0 AS BIGINT) END AS term"
    ).agg(F.sum("term").cast("bigint").alias("s"))
    tot = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    return terms.crossJoin(F.broadcast(tot)).selectExpr(
        "n",
        "n_pos",
        "CAST(s DIV n_pos AS BIGINT) AS ap_micro",
        "CAST(n_pos * 1000000 DIV n AS BIGINT) AS prevalence_micro",
    )
