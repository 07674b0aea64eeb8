"""ML evaluation / statistics operators: WoE/IV binning, conformal
intervals, permutation tests, OOF target encoding, calibration bins,
partial dependence, Poisson bootstrap, and the classifier comparisons
(McNemar, DeLong AUC, Friedman, average precision, Dawid-Skene label
aggregation).

Engine-portable integer idioms throughout (md5-prefix hashes, integer
cents, FLOOR-scaled micros) so every value hash-compares vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from realestate_engine.ordered import distributed_prefix_sum
from realestate_engine.queries_quality import _RATER_VOTES_CTES, rater_votes
from realestate_engine.registry import cache_once, register, t


@register(
    "m30_woe_iv_binning",
    """
    WITH base AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
        FROM orders
    ),
    cuts AS (
        SELECT quantile_disc(cents, [0.2, 0.4, 0.6, 0.8]) AS qs FROM base
    ),
    binned AS (
        SELECT pos,
               CASE WHEN cents <= qs[1] THEN 0
                    WHEN cents <= qs[2] THEN 1
                    WHEN cents <= qs[3] THEN 2
                    WHEN cents <= qs[4] THEN 3
                    ELSE 4 END AS bin
        FROM base, cuts
    ),
    tot AS (
        SELECT SUM(pos) AS n_pos_tot, SUM(1 - pos) AS n_neg_tot FROM binned
    ),
    per_bin AS (
        SELECT bin, CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(1 - pos) AS BIGINT) AS n_neg
        FROM binned GROUP BY bin
    )
    SELECT CAST(bin AS BIGINT) AS bin, n_pos, n_neg,
           CAST(FLOOR(LN((n_pos * 1.0 / n_pos_tot) / (n_neg * 1.0 / n_neg_tot)) * 1e6)
                AS BIGINT) AS woe_micro
    FROM per_bin, tot
    ORDER BY bin
    """,
)
def m30_woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M30: weight-of-evidence feature binning — the credit-scoring /
    feature-engineering classic: bucket a numeric feature into
    population quintiles, then score each bin by ln((pos share)/(neg
    share)). Label = order status 'F'. The quintile cuts are an exact
    discrete quantile (GK accuracy > n, as a6/a23) broadcast as one
    row; binning is a codegen'd CASE; one partial-aggregated groupBy
    produces the 5-row ledger; totals broadcast back. WoE is reported
    as FLOOR-scaled micros: the shares are single IEEE divisions and
    ln is correctly-rounded-close across libm — floor-scaling absorbs
    the last-ulp wobble that ROUND could flip at a half boundary."""
    o = t(spark, sf_dir, "orders")
    base = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
    )
    cuts = base.agg(
        F.percentile_approx("cents", [0.2, 0.4, 0.6, 0.8], 10_000_000).alias("qs")
    )
    binned = base.crossJoin(F.broadcast(cuts)).select(
        "pos",
        F.when(F.col("cents") <= F.col("qs")[0], 0)
        .when(F.col("cents") <= F.col("qs")[1], 1)
        .when(F.col("cents") <= F.col("qs")[2], 2)
        .when(F.col("cents") <= F.col("qs")[3], 3)
        .otherwise(4)
        .alias("bin"),
    )
    tot = binned.agg(
        F.sum("pos").alias("n_pos_tot"), F.sum(1 - F.col("pos")).alias("n_neg_tot")
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("pos")).cast("bigint").alias("n_neg"),
    )
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            "n_pos",
            "n_neg",
            F.floor(
                F.log(
                    (F.col("n_pos") * 1.0 / F.col("n_pos_tot"))
                    / (F.col("n_neg") * 1.0 / F.col("n_neg_tot"))
                )
                * 1e6
            )
            .cast("bigint")
            .alias("woe_micro"),
        )
        .orderBy("bin")
    )


@register(
    "m31_conformal_interval",
    """
    WITH base AS (
        SELECT o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               ('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 10 AS h
        FROM orders
    ),
    cal AS (SELECT * FROM base WHERE h < 5),
    tst AS (SELECT * FROM base WHERE h >= 5),
    model AS (
        SELECT o_orderpriority, SUM(cents) // COUNT(*) AS yhat_cents
        FROM cal GROUP BY o_orderpriority
    ),
    cal_resid AS (
        SELECT ABS(c.cents - m.yhat_cents) AS r
        FROM cal c JOIN model m USING (o_orderpriority)
    ),
    q AS (
        SELECT CAST(quantile_disc(r, 0.9) AS BIGINT) AS q90 FROM cal_resid
    ),
    scored AS (
        SELECT CASE WHEN ABS(t.cents - m.yhat_cents) <= q.q90 THEN 1 ELSE 0 END AS covered
        FROM tst t JOIN model m USING (o_orderpriority), q
    )
    SELECT CAST((SELECT q90 FROM q) AS BIGINT) AS q90_cents,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(covered) AS BIGINT) AS n_covered,
           CAST(FLOOR(SUM(covered) * 1e6 / COUNT(*)) AS BIGINT) AS coverage_micro,
           (SUM(covered) * 100 >= COUNT(*) * 85) AS coverage_ok
    FROM scored
    """,
)
def m31_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M31: split-conformal prediction intervals — the
    distribution-free uncertainty wrapper modern ML serving puts
    around ANY point predictor: fit on a calibration split, take the
    90th percentile of absolute calibration residuals as the interval
    half-width, and report the realized coverage on the held-out
    split (guaranteed >= 89%-ish by exchangeability). Everything is
    engine-exact: the split is the portable md5 permille hash (p10's
    idiom), the per-priority predictor is an INTEGER floor-mean
    (SUM//COUNT — a float avg would differ by summation-order ulps),
    residuals are exact cents, the q90 is an exact discrete quantile
    (GK accuracy > n), and coverage is a cross-multiplied integer
    test. Plan shape: two hash aggs, a 5-row model broadcast, a 1-row
    quantile broadcast — no windows, no shuffles beyond the groupBys."""
    o = t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (
            F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % 10
        ).alias("h"),
    )
    cal = base.filter(F.col("h") < 5)
    tst = base.filter(F.col("h") >= 5)
    # integer `div`, NOT float division + cast: sum/n as a double can
    # round UP across an integer boundary where DuckDB's BIGINT // floors
    model = (
        cal.groupBy("o_orderpriority")
        .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n"))
        .select("o_orderpriority", F.expr("s div n").alias("yhat_cents"))
    )
    cal_resid = cal.join(F.broadcast(model), "o_orderpriority").select(
        F.abs(F.col("cents") - F.col("yhat_cents")).alias("r")
    )
    q = cal_resid.agg(
        F.percentile_approx("r", 0.9, 10_000_000).cast("bigint").alias("q90")
    )
    scored = (
        tst.join(F.broadcast(model), "o_orderpriority")
        .crossJoin(F.broadcast(q))
        .select(
            "q90",
            F.when(
                F.abs(F.col("cents") - F.col("yhat_cents")) <= F.col("q90"), 1
            ).otherwise(0).alias("covered"),
        )
    )
    return scored.agg(
        F.max("q90").cast("bigint").alias("q90_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum("covered").cast("bigint").alias("n_covered"),
        F.floor(F.sum("covered") * 1e6 / F.count(F.lit(1))).cast("bigint").alias("coverage_micro"),
        (F.sum("covered") * 100 >= F.count(F.lit(1)) * 85).alias("coverage_ok"),
    )


_PERM_K = 20


@register(
    "m32_permutation_test",
    f"""
    WITH cells AS (
        SELECT o_custkey,
               CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS exposed,
               CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS post,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    labeled AS (
        SELECT r.i, cells.post, cells.cents,
               CASE WHEN r.i = 0 THEN cells.exposed
                    ELSE ('0x' || SUBSTR(MD5(CAST(cells.o_custkey AS VARCHAR) || ':' ||
                          CAST(r.i AS VARCHAR)), 1, 8))::BIGINT % 2 END AS e
        FROM cells CROSS JOIN (SELECT UNNEST(RANGE(0, {_PERM_K + 1})) AS i) r
    ),
    m AS (
        SELECT i, e, post, SUM(cents) // COUNT(*) AS mean_cents
        FROM labeled GROUP BY i, e, post
    ),
    did AS (
        SELECT i,
               SUM(CASE WHEN e = 1 AND post = 1 THEN mean_cents
                        WHEN e = 1 AND post = 0 THEN -mean_cents
                        WHEN e = 0 AND post = 1 THEN -mean_cents
                        ELSE mean_cents END) AS d
        FROM m GROUP BY i
    )
    SELECT CAST((SELECT d FROM did WHERE i = 0) AS BIGINT) AS observed_did_cents,
           CAST({_PERM_K} AS BIGINT) AS n_perms,
           CAST((SELECT COUNT(*) FROM did
                 WHERE i > 0 AND ABS(d) >= ABS((SELECT d FROM did WHERE i = 0)))
                AS BIGINT) AS n_as_extreme,
           CAST(FLOOR((SELECT COUNT(*) FROM did
                       WHERE i > 0 AND ABS(d) >= ABS((SELECT d FROM did WHERE i = 0)))
                      * 1e6 / {_PERM_K}) AS BIGINT) AS p_micro
    """,
)
def m32_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M32: permutation test for ev12's difference-in-differences —
    the nonparametric significance check: re-assign the exposure label
    {_PERM_K} times by a PORTABLE hash of (custkey, permutation index)
    — deterministic 'randomness' both engines replay, the same trick
    as the mixture samplers — recompute the integer DiD under each
    null labeling, and report how many null DiDs are at least as
    extreme as the observed one (the permutation p-value, in micros).
    One pass: rows explode K+1 ways (i=0 is the REAL labeling), one
    partial-aggregated groupBy over (K+1)x4 cells, a (K+1)-row DiD
    frame — the data is scanned once however many permutations are
    probed. Integer floor-means throughout (m31's div trick)."""
    o = t(spark, sf_dir, "orders")
    cells = o.select(
        "o_custkey",
        F.when(F.col("o_custkey") % 2 == 0, 1).otherwise(0).alias("exposed"),
        F.when(
            F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"), 1
        ).otherwise(0).alias("post"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    perm_hash = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("o_custkey").cast("string"), F.col("i").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    labeled = cells.select(
        "post",
        "cents",
        F.explode(F.array(*[F.lit(i) for i in range(_PERM_K + 1)])).alias("i"),
        "exposed",
        "o_custkey",
    ).select(
        "i",
        "post",
        "cents",
        F.when(F.col("i") == 0, F.col("exposed")).otherwise(perm_hash).alias("e"),
    )
    m = (
        labeled.groupBy("i", "e", "post")
        .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n"))
        .select("i", "e", "post", F.expr("s div n").alias("mean_cents"))
    )
    did = m.groupBy("i").agg(
        F.sum(
            F.when((F.col("e") == 1) & (F.col("post") == 1), F.col("mean_cents"))
            .when((F.col("e") == 1) & (F.col("post") == 0), -F.col("mean_cents"))
            .when((F.col("e") == 0) & (F.col("post") == 1), -F.col("mean_cents"))
            .otherwise(F.col("mean_cents"))
        ).alias("d")
    )
    obs = did.filter(F.col("i") == 0).select(F.col("d").alias("obs"))
    return (
        did.filter(F.col("i") > 0)
        .crossJoin(F.broadcast(obs))
        .agg(
            F.first("obs").cast("bigint").alias("observed_did_cents"),
            F.lit(_PERM_K).cast("bigint").alias("n_perms"),
            F.sum(F.when(F.abs(F.col("d")) >= F.abs(F.col("obs")), 1).otherwise(0))
            .cast("bigint")
            .alias("n_as_extreme"),
            F.floor(
                F.sum(F.when(F.abs(F.col("d")) >= F.abs(F.col("obs")), 1).otherwise(0))
                * 1e6
                / _PERM_K
            )
            .cast("bigint")
            .alias("p_micro"),
        )
    )


@register(
    "m33_oof_target_encoding",
    """
    WITH rows_f AS (
        SELECT o_orderpriority,
               ('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 5 AS fold,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    per_fold AS (
        SELECT o_orderpriority, fold, SUM(cents) AS s, CAST(COUNT(*) AS BIGINT) AS n
        FROM rows_f GROUP BY o_orderpriority, fold
    ),
    per_cat AS (
        SELECT o_orderpriority, SUM(s) AS st, SUM(n) AS nt
        FROM per_fold GROUP BY o_orderpriority
    )
    SELECT f.o_orderpriority,
           CAST(f.fold AS BIGINT) AS fold,
           f.n AS n_in_fold,
           CAST((c.st - f.s) // (c.nt - f.n) AS BIGINT) AS oof_mean_cents,
           CAST(c.st // c.nt AS BIGINT) AS full_mean_cents,
           ((c.st - f.s) // (c.nt - f.n) <> c.st // c.nt OR f.n = 0) AS excludes_own_fold
    FROM per_fold f JOIN per_cat c USING (o_orderpriority)
    ORDER BY o_orderpriority, fold
    """,
)
def m33_oof_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M33: OUT-OF-FOLD target encoding — the leakage-safe form of the
    strongest categorical feature there is: each row's category is
    encoded with the target mean computed over the OTHER hash folds
    ((total - own_fold) / (n_total - n_own)), so a row never sees its
    own target. Folds come from the portable md5 permille hash (p10's
    idiom); means are integer floor-divisions of exact cent sums
    (m31's trick), so every encoding value hash-compares. One
    (category x fold) aggregate plus a category rollup — the
    per-row encoded column at scale is one broadcast join of this
    25-row frame back onto the facts. The excludes_own_fold flag
    pins the leakage property: the OOF mean must differ from the full
    mean wherever the fold is non-empty (identical means would imply
    the fold contributed nothing to exclude)."""
    o = t(spark, sf_dir, "orders")
    rows_f = o.select(
        "o_orderpriority",
        (
            F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % 5
        ).alias("fold"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    per_fold = rows_f.groupBy("o_orderpriority", "fold").agg(
        F.sum("cents").alias("s"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    per_cat = per_fold.groupBy("o_orderpriority").agg(
        F.sum("s").alias("st"), F.sum("n").alias("nt")
    )
    return (
        per_fold.join(F.broadcast(per_cat), "o_orderpriority")
        .select(
            "o_orderpriority",
            F.col("fold").cast("bigint").alias("fold"),
            F.col("n").alias("n_in_fold"),
            F.expr("(st - s) div (nt - n)").cast("bigint").alias("oof_mean_cents"),
            F.expr("st div nt").cast("bigint").alias("full_mean_cents"),
            (
                (F.expr("(st - s) div (nt - n)") != F.expr("st div nt"))
                | (F.col("n") == 0)
            ).alias("excludes_own_fold"),
        )
        .orderBy("o_orderpriority", "fold")
    )


@register(
    "m35_partial_dependence",
    """
    WITH pop AS (
        SELECT c_custkey AS k, c_mktsegment AS mkt,
               LEAST(9, GREATEST(0, CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) // 120000)
                   AS bucket
        FROM customer
    ),
    outcome AS (
        SELECT o_custkey AS ok, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY o_custkey
    ),
    joined AS (
        SELECT p.k, p.mkt, p.bucket, COALESCE(o.y, 0) AS y
        FROM pop p LEFT JOIN outcome o ON p.k = o.ok
    ),
    bucket_means AS (
        SELECT bucket, CAST(SUM(y) // COUNT(*) AS BIGINT) AS bm FROM joined GROUP BY bucket
    ),
    resid AS (
        SELECT j.mkt, j.y - b.bm AS r
        FROM joined j JOIN bucket_means b ON j.bucket = b.bucket
    ),
    mkt_adj AS (
        SELECT mkt, CAST(SUM(r) // COUNT(*) AS BIGINT) AS madj FROM resid GROUP BY mkt
    ),
    pop_adj AS (
        SELECT CAST(SUM(m.madj) // COUNT(*) AS BIGINT) AS mean_adj
        FROM joined j JOIN mkt_adj m ON j.mkt = m.mkt
    )
    SELECT b.bucket,
           CAST(b.bm AS BIGINT) AS bucket_mean_cents,
           CAST(b.bm + (SELECT mean_adj FROM pop_adj) AS BIGINT) AS pdp_cents,
           CAST((SELECT mean_adj FROM pop_adj) AS BIGINT) AS population_adj_cents
    FROM bucket_means b ORDER BY b.bucket
    """,
)
def m35_partial_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M35: partial-dependence table — the model-explainability
    companion to m12_feature_importances: for the additive two-term
    model fitted right here (bucket mean of lifetime order value +
    market-segment residual adjustment, all integer floor-means — the
    m6 target-stats idiom), PDP(bucket g) = E_population[f(g, mkt_i)]
    = bucket_mean(g) + mean_i(mkt_adj(mkt_i)). Because the model is
    additive, the expectation collapses to one broadcast scalar — the
    PDP grid never cross-joins the population (the naive PDP is
    grid x N; the factored one is O(grid + N), which is the 100 TB
    point of this query).

    Plan: three hash-aggs (bucket means, residual adjustments,
    population mean adjustment) chained by broadcast joins; output is
    the 10-row grid."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    pop = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("mkt"),
        F.expr(
            "CAST(least(9, greatest(CAST(0 AS BIGINT), CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) DIV 120000) AS BIGINT)"
        ).alias("bucket"),
    )
    outcome = o.groupBy(F.col("o_custkey").alias("ok")).agg(
        F.expr("CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias("y")
    )
    joined = pop.join(outcome, pop.k == outcome.ok, "left").select(
        "k", "mkt", "bucket", F.coalesce("y", F.lit(0)).alias("y")
    )
    bucket_means = joined.groupBy("bucket").agg(F.expr("CAST(SUM(y) DIV COUNT(*) AS BIGINT)").alias("bm"))
    resid = joined.join(F.broadcast(bucket_means), "bucket").select("mkt", (F.col("y") - F.col("bm")).alias("r"))
    mkt_adj = resid.groupBy("mkt").agg(F.expr("CAST(SUM(r) DIV COUNT(*) AS BIGINT)").alias("madj"))
    pop_adj = (
        joined.join(F.broadcast(mkt_adj), "mkt")
        .agg(F.expr("CAST(SUM(madj) DIV COUNT(*) AS BIGINT)").alias("mean_adj"))
    )
    return (
        bucket_means.crossJoin(F.broadcast(pop_adj))
        .select(
            "bucket",
            F.col("bm").cast("long").alias("bucket_mean_cents"),
            (F.col("bm") + F.col("mean_adj")).cast("long").alias("pdp_cents"),
            F.col("mean_adj").cast("long").alias("population_adj_cents"),
        )
        .orderBy("bucket")
    )


# Poisson(1) inverse-CDF thresholds on u in [0, 2^32): P(W<=k) * 2^32
# rounded once in host Python, injected verbatim into both engines.
_POIS1_T = [1580030169, 3160060337, 3950075422, 4213413783, 4279248374, 4292415292]


def _poisson_bootstrap_oracle() -> str:
    w_case = " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POIS1_T)
    )
    return f"""
    WITH rows_ AS (
        SELECT o_orderkey AS k, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    reps AS (SELECT UNNEST(RANGE(0, 32)) AS r),
    hashed AS (
        SELECT r.r, rows_.cents,
               ('0x' || SUBSTR(MD5('bs' || CAST(r.r AS VARCHAR) || '-' || CAST(rows_.k AS VARCHAR)), 1, 8))::BIGINT AS u
        FROM rows_ CROSS JOIN reps r
    ),
    weighted AS (
        SELECT r, cents, CASE {w_case} ELSE {len(_POIS1_T)} END AS w
        FROM hashed
    ),
    rep_means AS (
        SELECT r, CAST(SUM(w * cents) // SUM(w) AS BIGINT) AS mean_cents
        FROM weighted GROUP BY r HAVING SUM(w) > 0
    ),
    ranked AS (
        SELECT mean_cents, ROW_NUMBER() OVER (ORDER BY mean_cents, mean_cents) AS rk,
               COUNT(*) OVER () AS n
        FROM rep_means
    ),
    point AS (SELECT CAST(SUM(cents) // COUNT(*) AS BIGINT) AS pm FROM rows_)
    SELECT CAST((SELECT pm FROM point) AS BIGINT) AS point_mean_cents,
           CAST(MAX(CASE WHEN rk = 1 THEN mean_cents END) AS BIGINT) AS ci_lo_cents,
           CAST(MAX(CASE WHEN rk = n THEN mean_cents END) AS BIGINT) AS ci_hi_cents,
           CAST(ANY_VALUE(n) AS BIGINT) AS n_replicates
    FROM ranked
    """


@register("m36_poisson_bootstrap_ci", _poisson_bootstrap_oracle())
def m36_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M36: Poisson bootstrap — THE resampling method that works at
    100 TB (multinomial bootstrap needs the global N per resample;
    Poisson(1) weights are independent per row, so every replicate is
    one weighted aggregate in the SAME single pass over the data).
    Here 32 replicates of the mean order value: each (row, replicate)
    draws its weight from the portable-md5 u via fixed integer
    inverse-CDF thresholds (computed once in host Python — no float
    RNG in either engine), replicate means are exact integer
    floor-means, and the CI endpoints are order statistics of the
    32-row replicate frame (min/max here = the ~3%/97% envelope at
    K=32; K is a parameter).

    Plan: one scan fans out x32 via a broadcast replicate range (the
    m32/m18 K-row idiom), partial aggregation collapses map-side, and
    the order-statistics window runs over 32 rows partitioned...
    deliberately ordered GLOBALLY — but over a 32-row frame, which is
    the documented broadcast-scale exception class; see plan_audit
    allowlist entry."""
    o = t(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    rows_ = o.select(
        F.col("o_orderkey").alias("k"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    reps = t(spark, sf_dir, "orders").sparkSession.range(0, 32).select(F.col("id").alias("r"))
    u = F.conv(
        F.substring(F.md5(F.concat(F.lit("bs"), F.col("r").cast("string"), F.lit("-"), F.col("k").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    w_expr = F.lit(len(_POIS1_T))
    for kk in range(len(_POIS1_T) - 1, -1, -1):
        w_expr = F.when(u < _POIS1_T[kk], kk).otherwise(w_expr)
    weighted = rows_.crossJoin(F.broadcast(reps)).select("r", "cents", w_expr.alias("w"))
    # r14 (guide §1.2/§5): rep_means feeds THREE consumers below (rank
    # left side, broadcast right side, n_reps scalar) and each used to
    # replay the whole rows x 32-replicate md5 fan-out — the dominant
    # cost of the query. Cache the K-row replicate frame (K = 32) so
    # the weighted pass runs once (and repeats reuse the K-row entry);
    # measured warm 6.8s -> 1.1s at sf0.1.
    rep_means = cache_once(
        weighted.groupBy("r")
        .agg(F.expr("CAST(SUM(w * cents) DIV SUM(w) AS BIGINT)").alias("mean_cents"), F.sum("w").alias("tw"))
        .filter(F.col("tw") > 0)
        .select("r", "mean_cents")
    )
    # order statistics over the 32-row replicate frame: broadcast
    # non-equi rank (the repo's no-global-window idiom)
    a, b = rep_means.alias("a"), F.broadcast(rep_means.alias("b"))
    ranked = (
        a.join(b, (F.col("b.mean_cents") < F.col("a.mean_cents")) | ((F.col("b.mean_cents") == F.col("a.mean_cents")) & (F.col("b.r") <= F.col("a.r"))))
        .groupBy(F.col("a.r").alias("r"), F.col("a.mean_cents").alias("mean_cents"))
        .agg(F.count(F.lit(1)).alias("rk"))
    )
    n_reps = rep_means.agg(F.count(F.lit(1)).alias("n"))
    point = rows_.agg(F.expr("CAST(SUM(cents) DIV COUNT(*) AS BIGINT)").alias("pm"))
    return (
        ranked.crossJoin(F.broadcast(n_reps))
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("mean_cents"))).cast("long").alias("ci_lo_cents"),
            F.max(F.when(F.col("rk") == F.col("n"), F.col("mean_cents"))).cast("long").alias("ci_hi_cents"),
            F.first("n").cast("long").alias("n_replicates"),
        )
        .crossJoin(F.broadcast(point))
        .select(
            F.col("pm").cast("long").alias("point_mean_cents"),
            "ci_lo_cents",
            "ci_hi_cents",
            "n_replicates",
        )
    )


# --- M37: exact SHAP explanations for the closed-form linear model ----------
#
# For a linear model f(x) = b0 + Σ b_i x_i with independent-feature
# value function, the Shapley value has the CLOSED FORM
# phi_i(x) = b_i (x_i - mean(x_i)) — no 2^p coalition enumeration
# (Lundberg & Lee 2017, Corollary 1). Reusing m26's Cramer's-rule
# betas (identical formula TEXT over identical BIGINT moments on both
# engines) keeps every double op bit-reproducible; the only new float
# work is one multiply per feature. The efficiency axiom
# base + Σ phi_i = prediction is emitted as data.

from realestate_engine.queries_ml import (
    _OLS_D1,
    _OLS_D2,
    _OLS_DETS,
    _OLS_MOMENTS_SQL,
    ols_moments,
)


@register(
    "m37_linear_shap",
    f"""
    WITH m AS ({_OLS_MOMENTS_SQL}),
    rows_ AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS BIGINT) AS x1,
               CAST(ROUND(l_discount * 1000) AS BIGINT) AS x2,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber, l_suppkey, l_partkey
        LIMIT 10
    )
    SELECT r.l_orderkey, r.l_linenumber, r.x1, r.x2, r.y,
           ROUND((({_OLS_D1}) / ({_OLS_DETS}))
                 * (CAST(r.x1 AS DOUBLE) - CAST(s1 AS DOUBLE) / n), 4) AS phi_qty_cents,
           ROUND((({_OLS_D2}) / ({_OLS_DETS}))
                 * (CAST(r.x2 AS DOUBLE) - CAST(s2 AS DOUBLE) / n), 4) AS phi_disc_cents,
           ROUND(CAST(sy AS DOUBLE) / n, 4) AS base_cents,
           ROUND(CAST(sy AS DOUBLE) / n
                 + (({_OLS_D1}) / ({_OLS_DETS}))
                   * (CAST(r.x1 AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                 + (({_OLS_D2}) / ({_OLS_DETS}))
                   * (CAST(r.x2 AS DOUBLE) - CAST(s2 AS DOUBLE) / n), 4) AS prediction_cents
    FROM rows_ r CROSS JOIN m
    ORDER BY r.l_orderkey, r.l_linenumber
    """,
)
def m37_linear_shap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M37: exact per-row SHAP attributions for the m26 OLS price model
    — phi_i = beta_i·(x_i − mean(x_i)), the closed form Shapley takes
    for linear models, so the explanation is EXACT, not a sampling
    estimate. One moment pass (9 BIGINT scalars, broadcast) explains
    any number of rows with pure codegen'd arithmetic — the 100 TB
    posture for model explanation: no per-row kernel regressions, no
    coalition enumeration, one cross join against a 1-row model frame.
    base + Σ phi = prediction is emitted per row (the efficiency
    axiom as visible data); both engines evaluate the IDENTICAL
    formula text over identical integer moments so the 4-decimal
    round is stable."""
    li = t(spark, sf_dir, "lineitem")
    feats = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 1000).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    sample = (
        feats.orderBy("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey")
        .limit(10)
        .select("l_orderkey", "l_linenumber", "x1", "x2", "y")
    )
    m = ols_moments(feats)
    return (
        sample.crossJoin(F.broadcast(m))
        .selectExpr(
            "l_orderkey",
            "l_linenumber",
            "x1",
            "x2",
            "y",
            f"ROUND((({_OLS_D1}) / ({_OLS_DETS}))"
            " * (CAST(x1 AS DOUBLE) - CAST(s1 AS DOUBLE) / n), 4) AS phi_qty_cents",
            f"ROUND((({_OLS_D2}) / ({_OLS_DETS}))"
            " * (CAST(x2 AS DOUBLE) - CAST(s2 AS DOUBLE) / n), 4) AS phi_disc_cents",
            "ROUND(CAST(sy AS DOUBLE) / n, 4) AS base_cents",
            f"ROUND(CAST(sy AS DOUBLE) / n"
            f" + (({_OLS_D1}) / ({_OLS_DETS}))"
            " * (CAST(x1 AS DOUBLE) - CAST(s1 AS DOUBLE) / n)"
            f" + (({_OLS_D2}) / ({_OLS_DETS}))"
            " * (CAST(x2 AS DOUBLE) - CAST(s2 AS DOUBLE) / n), 4) AS prediction_cents",
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# --- M38: Viterbi decoding (max-plus HMM DP) over user event streams --------
#
# A 2-state HMM (casual browser vs active buyer) decoded over each
# user's time-ordered event stream. All scores are integer centi-log
# weights (larger = better), so the max-plus recurrence
#   s_j(t) = emit_j(obs_t) + MAX_i(s_i(t-1) + trans_ij)
# is exact integer arithmetic on both engines. The max-plus matrix
# product is ASSOCIATIVE, so at 100 TB the per-user chain can be
# segment-parallelized (per-split 2x2 max-plus matrices combined in a
# tree) — here each user's history is bounded, so the applyInPandas
# per-user loop (parallelism = users) is the right local shape, the
# same contract as ts_holt_int / ts8_holt_winters_int.

_VIT_START = (-10, -100)          # start scores (state0 casual, state1 buyer)
_VIT_TRANS = (-5, -80, -70, -10)  # t00, t01, t10, t11
_VIT_EMIT0 = (-10, -150, -60)     # casual:  browse, convert, error
_VIT_EMIT1 = (-40, -30, -90)      # buyer:   browse, convert, error

_VIT_OBS_SQL = (
    "CASE WHEN event_type IN ('click', 'view') THEN 0 "
    "WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 2 END"
)


def _vit_emit_sql(col: str, emit: tuple[int, int, int]) -> str:
    return f"CASE {col} WHEN 0 THEN {emit[0]} WHEN 1 THEN {emit[1]} ELSE {emit[2]} END"


@register(
    "m38_viterbi_decode",
    f"""
    WITH RECURSIVE seq AS (
        SELECT user_id,
               {_VIT_OBS_SQL} AS obs,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    vit AS (
        SELECT user_id, rn,
               CAST({_VIT_START[0]} + {_vit_emit_sql("obs", _VIT_EMIT0)} AS BIGINT) AS s0,
               CAST({_VIT_START[1]} + {_vit_emit_sql("obs", _VIT_EMIT1)} AS BIGINT) AS s1
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.rn,
               {_vit_emit_sql("s.obs", _VIT_EMIT0)}
                 + GREATEST(v.s0 + {_VIT_TRANS[0]}, v.s1 + {_VIT_TRANS[2]}) AS s0,
               {_vit_emit_sql("s.obs", _VIT_EMIT1)}
                 + GREATEST(v.s0 + {_VIT_TRANS[1]}, v.s1 + {_VIT_TRANS[3]}) AS s1
        FROM vit v JOIN seq s ON s.user_id = v.user_id AND s.rn = v.rn + 1
    )
    SELECT user_id,
           CAST(MAX(rn) AS BIGINT) AS n_events,
           CAST(ARG_MAX(s0, rn) AS BIGINT) AS score_casual,
           CAST(ARG_MAX(s1, rn) AS BIGINT) AS score_buyer,
           CAST(CASE WHEN ARG_MAX(s0, rn) >= ARG_MAX(s1, rn) THEN 0 ELSE 1 END
                AS BIGINT) AS best_state,
           CAST(GREATEST(ARG_MAX(s0, rn), ARG_MAX(s1, rn)) AS BIGINT) AS best_score
    FROM vit GROUP BY user_id ORDER BY user_id
    """,
)
def m38_viterbi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M38: Viterbi (max-plus) decoding of a 2-state HMM over each
    user's time-ordered events — the sequence-labeling primitive under
    sessionized behavior models. Observations collapse event_type to
    {{browse, convert, error}}; emission/transition weights are integer
    centi-log scores, so every DP step is exact BIGINT addition + MAX
    and the DuckDB oracle replays the identical recurrence as a
    recursive CTE threading both state scores. Ends-state scores,
    the argmax state (tie -> casual), and the best score are emitted
    per user. Scale: the per-user DP runs as the partition-streaming
    _user_recurrence_map (r14 — one Python call per Arrow batch, not
    per user; the grouped applyInPandas form paid 1,500 per-group
    round-trips at sf0.1, measured 5.1s -> 2.0s warm); because
    max-plus products are associative, a 100 TB deployment
    re-expresses the same recurrence as a segment-tree of 2x2
    max-plus matrix products — the algebra is chosen so that rewrite
    changes no output bit."""
    from realestate_engine.timeseries import _user_recurrence_map

    e0, e1 = _VIT_EMIT0, _VIT_EMIT1
    t00, t01, t10, t11 = _VIT_TRANS
    # observation class as a native expression (no strings into Python)
    obs_col = (
        F.when(F.col("event_type").isin("click", "view"), 0)
        .when(F.col("event_type").isin("purchase", "signup"), 1)
        .otherwise(2)
    )
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", obs_col.alias("obs")
    )

    def fold(st, o, rn):
        if st is None:
            return (_VIT_START[0] + e0[o], _VIT_START[1] + e1[o])
        s0, s1 = st
        return (
            e0[o] + max(s0 + t00, s1 + t10),
            e1[o] + max(s0 + t01, s1 + t11),
        )

    def emit(u, n, st):
        s0, s1 = st
        return (u, n, s0, s1, 0 if s0 >= s1 else 1, max(s0, s1))

    return _user_recurrence_map(
        ev,
        sf_dir,
        fold=fold,
        emit=emit,
        schema=(
            "user_id long, n_events long, score_casual long, score_buyer long, "
            "best_state long, best_score long"
        ),
        value_col="obs",
        to_v=int,
    ).orderBy("user_id")


# --- M39: exact gradient-boosted stumps (3 rounds, depth-1 trees) ------------
#
# Squared-loss GBM with depth-1 regression trees over a fixed
# candidate-split grid is EXACTLY expressible as relational algebra:
# each round is one hash-agg of per-candidate sufficient statistics
# (n, sum r on each side), an argmax, and one codegen'd residual
# update — no sampling, no per-row Python. Leaf values floor to
# integers so residuals stay BIGINT through all rounds; the split
# score (sum_L^2/n_L + sum_R^2/n_R, the variance-gain numerator) is
# one fixed IEEE expression tree FLOOR-scaled to micros, bit-equal
# across engines.

_GBM_ROUNDS = 3
_GBM_CUTS = tuple(range(5, 50, 5))


def _gbm_cand_sql() -> str:
    return f"(SELECT UNNEST([{', '.join(map(str, _GBM_CUTS))}]) AS cut)"


def _gbm_round_sql(prev: str, stats: str, best: str, nxt: str) -> str:
    """One GBM round: per-candidate stats -> best split -> update."""
    return f"""
    {stats} AS (
        SELECT c.cut,
               SUM(CASE WHEN r.x <= c.cut THEN 1 ELSE 0 END) AS n_l,
               SUM(CASE WHEN r.x <= c.cut THEN r.r ELSE 0 END) AS s_l,
               SUM(CASE WHEN r.x > c.cut THEN 1 ELSE 0 END) AS n_r,
               SUM(CASE WHEN r.x > c.cut THEN r.r ELSE 0 END) AS s_r
        FROM {prev} r CROSS JOIN {_gbm_cand_sql()} c
        GROUP BY c.cut
    ),
    {best} AS (
        SELECT ARG_MAX(cut, CAST(FLOOR(
                   CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / n_l
                    + CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE) / n_r
               ) AS BIGINT) * 100 - cut) AS cut,
               MAX(CAST(FLOOR(
                   CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / n_l
                    + CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE) / n_r
               ) AS BIGINT) * 100 - cut) AS score_adj,
               ARG_MAX(s_l // n_l, CAST(FLOOR(
                   CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / n_l
                    + CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE) / n_r
               ) AS BIGINT) * 100 - cut) AS v_l,
               ARG_MAX(s_r // n_r, CAST(FLOOR(
                   CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / n_l
                    + CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE) / n_r
               ) AS BIGINT) * 100 - cut) AS v_r
        FROM {stats}
    ),
    {nxt} AS MATERIALIZED (
        SELECT r.x,
               r.r - CASE WHEN r.x <= b.cut THEN b.v_l ELSE b.v_r END AS r
        FROM {prev} r CROSS JOIN {best} b
    )"""


_GBM_ORACLE = f"""
    WITH r0 AS MATERIALIZED (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(FLOOR(l_extendedprice / 100) AS BIGINT) AS r
        FROM lineitem
    ),
    {",".join(_gbm_round_sql(f"r{i}", f"st{i}", f"b{i}", f"r{i + 1}") for i in range(_GBM_ROUNDS))}
    SELECT * FROM (
        {" UNION ALL ".join(
            f'''SELECT CAST({i} AS BIGINT) AS round,
                       CAST(b{i}.cut AS BIGINT) AS cut,
                       CAST(b{i}.v_l AS BIGINT) AS leaf_left,
                       CAST(b{i}.v_r AS BIGINT) AS leaf_right,
                       (SELECT CAST(SUM(r * r) // COUNT(*) AS BIGINT) FROM r{i + 1})
                         AS mse_after
                FROM b{i}'''
            for i in range(_GBM_ROUNDS)
        )}
    ) ORDER BY round
"""


@register("m39_gbm_stumps", _GBM_ORACLE)
def m39_gbm_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M39: exact gradient-boosted regression stumps — 3 squared-loss
    rounds of depth-1 trees on l_quantity predicting floor-dollar
    l_extendedprice, candidate splits on a fixed grid (5..45 step 5).
    Each round: ONE hash-agg computes every candidate's sufficient
    stats simultaneously (a 9-row broadcast fan-out, map-side
    combinable), the winner is an arg_max on the variance-gain score
    (a single IEEE expression FLOORed to whole units — the integer part
    is ~1e15 at sf0.1, ample precision, and micro-scaling would overflow
    int64; score*100 - cut makes the
    tiebreak injective), leaf values are floor means so residuals
    stay integer, and the update is one codegen'd CASE — the whole
    learner is scans + hash-aggs + 1-row broadcasts, Catalyst-
    optimizable end to end, unlike a driver-looped MLlib fit. Emits
    per round the chosen cut, both leaf values, and the post-round
    integer MSE. At 100 TB each round is one pass; rounds chain
    linearly like pagerank's unrolled iterations."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.floor(F.col("l_extendedprice") / 100).cast("bigint").alias("r"),
    )
    cand = spark.range(5, 50, 5).select(F.col("id").cast("bigint").alias("cut"))
    score = (
        "CAST(FLOOR(CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / n_l"
        " + CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE) / n_r) AS BIGINT)"
        " * 100 - cut"
    )
    cur = cache_once(li)
    out_rows = []
    for i in range(_GBM_ROUNDS):
        stats = (
            cur.crossJoin(F.broadcast(cand))
            .groupBy("cut")
            .agg(
                F.sum(F.when(F.col("x") <= F.col("cut"), 1).otherwise(0)).alias("n_l"),
                F.sum(F.when(F.col("x") <= F.col("cut"), F.col("r")).otherwise(0)).alias("s_l"),
                F.sum(F.when(F.col("x") > F.col("cut"), 1).otherwise(0)).alias("n_r"),
                F.sum(F.when(F.col("x") > F.col("cut"), F.col("r")).otherwise(0)).alias("s_r"),
            )
        )
        best = stats.agg(
            F.expr(f"max_by(cut, {score})").alias("cut"),
            F.expr(f"max_by(s_l div n_l, {score})").alias("v_l"),
            F.expr(f"max_by(s_r div n_r, {score})").alias("v_r"),
        )
        cur = cache_once(
            cur.crossJoin(F.broadcast(best)).select(
                "x",
                (
                    F.col("r")
                    - F.when(F.col("x") <= F.col("cut"), F.col("v_l")).otherwise(F.col("v_r"))
                ).alias("r"),
            )
        )
        mse = cur.agg(F.expr("CAST(sum(r * r) DIV count(*) AS BIGINT)").alias("mse_after"))
        out_rows.append(
            best.crossJoin(F.broadcast(mse)).select(
                F.lit(i).cast("bigint").alias("round"),
                F.col("cut").cast("bigint").alias("cut"),
                F.col("v_l").cast("bigint").alias("leaf_left"),
                F.col("v_r").cast("bigint").alias("leaf_right"),
                "mse_after",
            )
        )
    res = out_rows[0]
    for r_ in out_rows[1:]:
        res = res.unionByName(r_)
    return res.orderBy("round")


# --- M41: multinomial naive Bayes (train + score + confusion), pure SQL ------


@register(
    "m41_naive_bayes",
    """
    WITH train AS (
        SELECT p_partkey, p_brand AS brand,
               UNNEST(STRING_SPLIT(p_name, ' ')) AS word
        FROM part WHERE p_partkey % 5 <> 0
    ),
    test AS (
        SELECT p_partkey, p_brand AS actual,
               UNNEST(STRING_SPLIT(p_name, ' ')) AS word
        FROM part WHERE p_partkey % 5 = 0
    ),
    cwb AS (SELECT brand, word, COUNT(*) AS c FROM train GROUP BY brand, word),
    totb AS (
        SELECT brand, COUNT(*) AS tot_w, COUNT(DISTINCT p_partkey) AS n_docs
        FROM train GROUP BY brand
    ),
    gl AS (
        SELECT (SELECT COUNT(DISTINCT word) FROM train) AS v,
               (SELECT COUNT(DISTINCT p_partkey) FROM train) AS n_train
    ),
    scored AS (
        SELECT tw.p_partkey, tw.actual, b.brand,
               SUM(CAST(FLOOR(LN(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
                                 / CAST(b.tot_w + gl.v AS DOUBLE)) * 1000000)
                        AS BIGINT)) AS word_score
        FROM test tw
        CROSS JOIN totb b
        CROSS JOIN gl
        LEFT JOIN cwb c ON c.brand = b.brand AND c.word = tw.word
        GROUP BY tw.p_partkey, tw.actual, b.brand
    ),
    ranked AS (
        SELECT p_partkey, actual, brand,
               ROW_NUMBER() OVER (
                   PARTITION BY p_partkey
                   ORDER BY word_score
                            + CAST(FLOOR(LN(CAST(b.n_docs AS DOUBLE)
                                            / CAST(gl.n_train AS DOUBLE)) * 1000000)
                                   AS BIGINT) DESC,
                            brand) AS rn
        FROM scored s
        JOIN totb b USING (brand)
        CROSS JOIN gl
    )
    SELECT actual AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN brand = actual THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(SUM(CASE WHEN brand = actual THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS accuracy_micro
    FROM ranked WHERE rn = 1
    GROUP BY actual
    ORDER BY actual
    """,
)
def m41_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M41: multinomial naive Bayes trained, scored, and evaluated
    entirely in relational algebra — word-given-brand likelihoods from
    the 80% train split (partkey mod 5), Laplace +1 smoothing so no
    zero cell reaches the log, argmax posterior over the brand frame
    for each held-out part, per-brand confusion rollup. Every
    log term follows the er_fellegi_sunter/dq13 exactness idiom:
    exact-integer numerator and denominator, ONE IEEE division, one
    libm ln, FLOOR to micros — order-free BIGINT sums after that.
    The 25-row brand frame fans out broadcast; unseen words fall to
    the smoothing floor via LEFT join + COALESCE. Scale: training is
    two hash-aggs; scoring is an equi-join against the (brand, word)
    table — at 100 TB the model is a broadcast dim and scoring stays
    a map-side join, the textbook distributed-NB layout."""
    p = t(spark, sf_dir, "part")
    words = p.select(
        "p_partkey",
        F.col("p_brand").alias("brand"),
        F.explode(F.split("p_name", " ")).alias("word"),
    )
    train = words.where(F.col("p_partkey") % 5 != 0)
    test = words.where(F.col("p_partkey") % 5 == 0).select(
        "p_partkey", F.col("brand").alias("actual"), "word"
    )
    cwb = train.groupBy("brand", "word").agg(F.count(F.lit(1)).alias("c"))
    totb = train.groupBy("brand").agg(
        F.count(F.lit(1)).alias("tot_w"),
        F.countDistinct("p_partkey").alias("n_docs"),
    )
    gl = train.agg(
        F.countDistinct("word").alias("v"),
        F.countDistinct("p_partkey").alias("n_train"),
    )
    scored = (
        test.crossJoin(F.broadcast(totb))
        .crossJoin(F.broadcast(gl))
        .join(F.broadcast(cwb), ["brand", "word"], "left")
        .groupBy("p_partkey", "actual", "brand")
        .agg(
            F.sum(
                F.expr(
                    "CAST(FLOOR(LN(CAST(COALESCE(c, 0) + 1 AS DOUBLE)"
                    " / CAST(tot_w + v AS DOUBLE)) * 1000000) AS BIGINT)"
                )
            ).alias("word_score")
        )
    )
    w_doc = Window.partitionBy("p_partkey").orderBy(
        F.desc(
            F.col("word_score")
            + F.expr(
                "CAST(FLOOR(LN(CAST(n_docs AS DOUBLE) / CAST(n_train AS DOUBLE))"
                " * 1000000) AS BIGINT)"
            )
        ),
        "brand",
    )
    ranked = (
        scored.join(F.broadcast(totb.select("brand", "n_docs")), "brand")
        .crossJoin(F.broadcast(gl.select("n_train")))
        .withColumn("rn", F.row_number().over(w_doc))
        .where(F.col("rn") == 1)
    )
    return (
        ranked.groupBy(F.col("actual").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(F.when(F.col("brand") == F.col("actual"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_correct"),
            F.expr(
                "CAST(sum(CASE WHEN brand = actual THEN 1 ELSE 0 END) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("accuracy_micro"),
        )
        .orderBy("brand")
    )


# --- M42: feature hashing (the hashing trick) with collision census ----------

_FH_D = 64  # hashed feature dimension


@register(
    "m42_feature_hashing",
    f"""
    WITH words AS (
        SELECT p_partkey, UNNEST(STRING_SPLIT(p_name, ' ')) AS w FROM part
    ),
    hashed AS (
        SELECT w,
               ('0x' || SUBSTR(MD5(w), 1, 8))::BIGINT % {_FH_D} AS bucket,
               CASE WHEN ('0x' || SUBSTR(MD5(w), 9, 1))::BIGINT % 2 = 0
                    THEN 1 ELSE -1 END AS sign
        FROM words
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct_words,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(SUM(sign) AS BIGINT) AS net_signed_count,
           MIN(w) AS example_word
    FROM hashed
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def m42_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M42: the hashing trick (Weinberger et al.) over the part-name
    word stream — vocabulary-free featurization into {_FH_D} buckets
    with a SIGNED second hash (the trick's unbiasedness device: colliding
    words cancel in expectation rather than summing), which is how
    text features reach a fixed-width model without a fitted
    vocabulary — the m15/StringIndexer alternative that needs NO
    training pass and survives vocabulary drift. Both hashes are
    md5-prefix integers (the portable_hash32 idiom, second nibble for
    the sign), so the bucket map and the signed sums replay
    bit-identically. The census emitted per bucket — distinct words
    absorbed, occurrences, NET signed count (cancellation visible as
    data), an example — is exactly the collision audit you run before
    committing to a dimension. One scan, one hash agg; at 100 TB the
    featurizer is a map-only projection."""
    p = t(spark, sf_dir, "part")
    words = p.select(F.explode(F.split("p_name", " ")).alias("w"))
    hashed = words.select(
        "w",
        (F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long") % _FH_D).alias("bucket"),
        F.when(
            F.conv(F.substring(F.md5("w"), 9, 1), 16, 10).cast("long") % 2 == 0, 1
        )
        .otherwise(-1)
        .alias("sign"),
    )
    return (
        hashed.groupBy("bucket")
        .agg(
            F.countDistinct("w").cast("bigint").alias("n_distinct_words"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.sum("sign").cast("bigint").alias("net_signed_count"),
            F.min("w").alias("example_word"),
        )
        .select(F.col("bucket").cast("bigint").alias("bucket"), "n_distinct_words",
                "n_occurrences", "net_signed_count", "example_word")
        .orderBy("bucket")
    )


# --- M43: logistic regression via Newton/IRLS, 3 unrolled rounds --------------
#
# Intercept + one feature (l_quantity), label = (l_returnflag = 'R').
# The whole fit is THREE aggregate passes: each Newton step needs only
# five sufficient statistics (g0, g1, H00, H01, H11), and with
# probabilities FLOOR-micro'd to integers BEFORE summation every sum
# is an exact BIGINT (float sums would be partition-order-dependent).
# The 2x2 solve runs in DOUBLE (H products cross 2^63) as one fixed
# IEEE expression tree, floored back to integer micros. Unit algebra:
# with p_micro ~ 1e6 p and w_int = p_micro(1e6-p_micro)//1e6 ~ 1e6 w,
# both g_int and H_int carry the same 1e6 factor, so the natural-unit
# Newton step is exactly solve(H_int, g_int) — no rescaling.

# One Newton step of a 2-parameter GLM fit from its integer micro
# sufficient statistics (gradient g0, g1 and Hessian h00, h01, h11):
# the Cramer solve of the 2x2 system in DOUBLE (the Hessian products
# cross 2^63) as one fixed IEEE expression tree, floored back to
# integer micros. _NEWTON_D0 is the intercept delta, _NEWTON_D1 the
# slope delta. newton_fit (F.expr) and _newton_fit_sql embed the same
# text.
_NEWTON_DET = "(CAST(h00 AS DOUBLE) * h11 - CAST(h01 AS DOUBLE) * h01)"
_NEWTON_D0 = (
    "CAST(FLOOR((CAST(h11 AS DOUBLE) * g0 - CAST(h01 AS DOUBLE) * g1)"
    f" / {_NEWTON_DET} * 1000000) AS BIGINT)"
)
_NEWTON_D1 = (
    "CAST(FLOOR((CAST(h00 AS DOUBLE) * g1 - CAST(h01 AS DOUBLE) * g0)"
    f" / {_NEWTON_DET} * 1000000) AS BIGINT)"
)


def newton_fit(
    feats: DataFrame,
    target: str,
    term: tuple[str, str],
    weight: str,
    params: tuple[tuple[str, str], ...],
    rounds: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Unrolled Newton fit of a 2-parameter GLM on ``feats`` (x, the
    target's column and the ``carry`` columns), all parameters 0 at
    start. Per round: a 1-row params frame crossJoin(broadcast) onto
    feats, the per-row ``term`` = (name, SQL over x and the params),
    ONE aggregate of the five sufficient statistics — gradient
    against ``target`` (SQL, integer micros) and Hessian weight
    ``weight`` (SQL) — and the step. ``params`` lists (name, delta)
    in output order; the delta is _NEWTON_D0 for the intercept and
    _NEWTON_D1 for the slope. Returns one row per round: round,
    ``<name>_micro`` per parameter, then ``carry`` (constant per fit,
    passed through any_value). The rounds stay one lazy plan (a union
    of rounds); the oracle side is _newton_fit_sql. Read by
    m43_logreg_newton, m50_poisson_newton and m54_platt_scaling."""
    names = [n for n, _ in params]
    w = F.expr(weight)
    b = None
    out = []
    for i in range(rounds):
        if b is None:
            cur = feats.select(*feats.columns, *[F.lit(0).cast("bigint").alias(n) for n in names])
        else:
            cur = feats.crossJoin(F.broadcast(b))
        scored = cur.select(*feats.columns, *names, F.expr(term[1]).alias(term[0]))
        resid = F.expr(target) - F.col(term[0])
        stats = scored.agg(
            *[F.any_value(c).alias(c) for c in names + list(carry)],
            F.sum(resid).alias("g0"),
            F.sum(F.col("x") * resid).alias("g1"),
            F.sum(w).alias("h00"),
            F.sum(F.col("x") * w).alias("h01"),
            F.sum(F.col("x") * F.col("x") * w).alias("h11"),
        )
        nxt = stats.select(*[F.expr(f"{n} + {d}").alias(n) for n, d in params], *carry)
        out.append(
            nxt.select(
                F.lit(i + 1).cast("bigint").alias("round"),
                *[F.col(n).cast("bigint").alias(f"{n}_micro") for n in names],
                *[F.col(c).alias(c) for c in carry],
            )
        )
        b = nxt.select(*names)
    res = out[0]
    for r_ in out[1:]:
        res = res.unionByName(r_)
    return res.orderBy("round")


def _newton_fit_sql(
    rounds: int,
    target: str,
    term: tuple[str, str],
    weight: str,
    params: tuple[tuple[str, str], ...],
    carry: tuple[str, ...] = (),
) -> str:
    """The oracle side of newton_fit, to follow a ``feats`` CTE: the
    rounds unrolled as MATERIALIZED CTEs nb0 (all parameters 0),
    ns{i} (the statistics at nb{i}) and nb{i+1}, then the final SELECT
    of one row per round. Arguments are newton_fit's in DuckDB syntax;
    ``carry`` holds the SQL of the trailing output columns."""
    tname, tsql = term
    steps = [
        "nb0 AS (SELECT " + ", ".join(f"CAST(0 AS BIGINT) AS {n}" for n, _ in params) + ")"
    ]
    for i in range(rounds):
        steps.append(f"""
    ns{i} AS MATERIALIZED (
        SELECT {", ".join(f"ANY_VALUE({n}) AS {n}" for n, _ in params)},
               SUM({target} - {tname}) AS g0,
               SUM(x * ({target} - {tname})) AS g1,
               SUM({weight}) AS h00,
               SUM(x * ({weight})) AS h01,
               SUM(x * x * ({weight})) AS h11
        FROM (SELECT *, {tsql} AS {tname} FROM feats CROSS JOIN nb{i})
    ),
    nb{i + 1} AS MATERIALIZED (
        SELECT {", ".join(f"{n} + {d} AS {n}" for n, d in params)} FROM ns{i}
    )""")
    cols = ", ".join([f"{n} AS {n}_micro" for n, _ in params] + list(carry))
    return ",".join(steps) + f"""
    SELECT * FROM (
        {" UNION ALL ".join(
            f"SELECT CAST({i} AS BIGINT) AS round, {cols} FROM nb{i}"
            for i in range(1, rounds + 1)
        )}
    ) ORDER BY round
"""


_LR_ROUNDS = 3

_LR_P = (
    "CAST(FLOOR(1000000 / (1 + EXP(-(CAST(b0 AS DOUBLE)"
    " + CAST(b1 AS DOUBLE) * x) / 1000000))) AS BIGINT)"
)


# The logistic IRLS Hessian weight p(1 - p) in integer micros, per
# engine (Spark's DIV is DuckDB's //); m43 and m54 weigh by it.
_IRLS_W = "p * (1000000 - p) div 1000000"
_IRLS_W_SQL = "p * (1000000 - p) // 1000000"

_LR_FIT = dict(
    target="y * 1000000",
    term=("p", _LR_P),
    params=(("b0", _NEWTON_D0), ("b1", _NEWTON_D1)),
    rounds=_LR_ROUNDS,
)

_LR_ORACLE = f"""
    WITH feats AS MATERIALIZED (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ),
    {_newton_fit_sql(weight=_IRLS_W_SQL, **_LR_FIT)}"""


@register("m43_logreg_newton", _LR_ORACLE)
def m43_logreg_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M43: logistic regression fit by Newton-Raphson/IRLS entirely in
    relational algebra — three unrolled Newton steps, each ONE
    aggregate pass collecting the five sufficient statistics
    (gradient + 2x2 Hessian) with per-row sigmoid probabilities
    FLOOR-micro'd to integers BEFORE summation, so all sums are exact
    BIGINT and partition-order-free; the 2x2 Cramer solve runs as one
    fixed IEEE double tree (integer Hessian products would cross
    2^63) and floors back to integer micro coefficients. Completes
    the from-scratch relational-ML suite (m25 k-means, m26 OLS, m39
    GBM, m41 NB): the canonical GLM fit with zero driver-side math —
    every iteration is a scan + hash-agg + 1-row broadcast, the shape
    that runs unchanged on 100 TB (MLlib's own LBFGS does the same
    pass structure with more comms)."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    return newton_fit(cache_once(li), weight=_IRLS_W, **_LR_FIT)


# --- M44: PCA leading component, closed form (2x2 eigenproblem) ---------------


@register(
    "m44_pca_closed_form",
    """
    WITH feats AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(ROUND(l_discount * 1000) AS BIGINT) AS y
        FROM lineitem
    ),
    m AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
        FROM feats
    ),
    cov AS (
        SELECT n,
               CAST(n * sxx - sx * sx AS DOUBLE) AS a,
               CAST(n * sxy - sx * sy AS DOUBLE) AS b,
               CAST(n * syy - sy * sy AS DOUBLE) AS c
        FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(FLOOR(((a + c) / 2 + SQRT(((a - c) / 2) * ((a - c) / 2) + b * b))
                      / (a + c) * 1000000) AS BIGINT) AS var_explained_micro,
           CAST(FLOOR(b / SQRT(b * b + ((a + c) / 2
                      + SQRT(((a - c) / 2) * ((a - c) / 2) + b * b) - a)
                      * ((a + c) / 2 + SQRT(((a - c) / 2) * ((a - c) / 2) + b * b) - a))
                      * 1000000) AS BIGINT) AS v1_micro,
           CAST(FLOOR(((a + c) / 2 + SQRT(((a - c) / 2) * ((a - c) / 2) + b * b) - a)
                      / SQRT(b * b + ((a + c) / 2
                      + SQRT(((a - c) / 2) * ((a - c) / 2) + b * b) - a)
                      * ((a + c) / 2 + SQRT(((a - c) / 2) * ((a - c) / 2) + b * b) - a))
                      * 1000000) AS BIGINT) AS v2_micro
    FROM cov
    """,
)
def m44_pca_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M44: exact leading principal component of the 2-feature
    (quantity, milli-discount) covariance — the 2x2 eigenproblem has
    the closed form lambda = (a+c)/2 + sqrt(((a-c)/2)^2 + b^2) with
    eigenvector (b, lambda - a), so the whole PCA is ONE moment
    aggregate (five exact BIGINT sums via the n*Sxy - Sx*Sy scaled
    form — no float means subtracted) followed by scalar IEEE
    arithmetic floored to micros: explained-variance share and the
    unit eigenvector, bit-equal across engines because every double
    op sits in one fixed expression tree. The closed-form sibling of
    sim_pca_topk's MLlib path and the eigen-analysis the m26/m43
    moment discipline was built for. Scale: one scan, one 1-row
    frame; the 'fit' never touches rows again."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_discount") * 1000).cast("bigint").alias("y"),
    )
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cov = m.select(
        "n",
        F.expr("CAST(n * sxx - sx * sx AS DOUBLE)").alias("a"),
        F.expr("CAST(n * sxy - sx * sy AS DOUBLE)").alias("b"),
        F.expr("CAST(n * syy - sy * sy AS DOUBLE)").alias("c"),
    )
    lam = "((a + c) / 2 + SQRT(((a - c) / 2) * ((a - c) / 2) + b * b))"
    return cov.select(
        F.col("n").cast("bigint").alias("n"),
        F.expr(f"CAST(FLOOR({lam} / (a + c) * 1000000) AS BIGINT)").alias(
            "var_explained_micro"
        ),
        F.expr(
            f"CAST(FLOOR(b / SQRT(b * b + ({lam} - a) * ({lam} - a)) * 1000000) AS BIGINT)"
        ).alias("v1_micro"),
        F.expr(
            f"CAST(FLOOR(({lam} - a) / SQRT(b * b + ({lam} - a) * ({lam} - a)) * 1000000)"
            " AS BIGINT)"
        ).alias("v2_micro"),
    )


# --- M45: EM for a two-component Gaussian mixture (soft k-means form) ---------
#
# Feature: x = l_quantity + 100*(l_orderkey % 2) — PLANTED bimodality
# (modes near 25 and 125), so EM has something real to find. Known
# equal variances (sigma^2 = 400) and weights, so the E-step
# responsibility is one sigmoid of the squared-distance difference
# and the M-step is two weighted means — the canonical EM structure
# with every cross-engine hazard removed: responsibilities are
# FLOOR-micro'd per row BEFORE summation (exact BIGINT sums), and
# each M-step mean is ONE IEEE division floored back to micros.

_EM_ROUNDS = 2
_EM_MU1_0 = 10_000_000   # micro units: start means 10 and 140
_EM_MU2_0 = 140_000_000
_EM_TWO_SSQ = 800.0e12   # 2 * sigma^2 * 1e12 (micro^2 scaling)

_EM_R = (
    "CAST(FLOOR(1000000 / (1 + EXP(-("
    "CAST((x * 1000000 - mu2) AS DOUBLE) * CAST((x * 1000000 - mu2) AS DOUBLE)"
    " - CAST((x * 1000000 - mu1) AS DOUBLE) * CAST((x * 1000000 - mu1) AS DOUBLE)"
    f") / {_EM_TWO_SSQ}))) AS BIGINT)"
)


def _em_step_sql(feats: str, prev: str, nxt: str, r: int) -> str:
    return f"""
    rs{r} AS (
        SELECT SUM(p.r) AS sr, SUM(p.r * p.x) AS srx,
               SUM(1000000 - p.r) AS sq, SUM((1000000 - p.r) * p.x) AS sqx
        FROM (SELECT x, {_EM_R} AS r FROM {feats} f CROSS JOIN {prev} b) p
    ),
    {nxt} AS (
        SELECT CAST(FLOOR(CAST(srx AS DOUBLE) / CAST(sr AS DOUBLE) * 1000000)
                    AS BIGINT) AS mu1,
               CAST(FLOOR(CAST(sqx AS DOUBLE) / CAST(sq AS DOUBLE) * 1000000)
                    AS BIGINT) AS mu2,
               CAST(sr // 1000000 AS BIGINT) AS n_soft1
        FROM rs{r}
    )"""


_EM_ORACLE = f"""
    WITH feats AS MATERIALIZED (
        SELECT CAST(l_quantity AS BIGINT) + 100 * (l_orderkey % 2) AS x
        FROM lineitem
    ),
    e0 AS (SELECT CAST({_EM_MU1_0} AS BIGINT) AS mu1,
                  CAST({_EM_MU2_0} AS BIGINT) AS mu2,
                  CAST(0 AS BIGINT) AS n_soft1),
    {",".join(_em_step_sql("feats", f"e{i}", f"e{i + 1}", i) for i in range(_EM_ROUNDS))}
    SELECT * FROM (
        {" UNION ALL ".join(
            f"SELECT CAST({i + 1} AS BIGINT) AS round, mu1 AS mu1_micro,"
            f" mu2 AS mu2_micro, n_soft1 FROM e{i + 1}"
            for i in range(_EM_ROUNDS)
        )}
    ) ORDER BY round
"""


@register("m45_gmm_em", _EM_ORACLE)
def m45_gmm_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M45: expectation-maximization for a two-component Gaussian
    mixture (known equal variances/weights — the soft-k-means form
    that isolates EM's soft-assignment structure) on a PLANTED bimodal
    feature: the E-step responsibility is one sigmoid of the
    squared-distance difference, FLOOR-micro'd per row so the four
    M-step sufficient statistics are exact BIGINT sums; each M-step
    mean is one IEEE division floored back to micro units. Two
    unrolled rounds; emits the evolving means and the soft count of
    component 1 — which converge onto the planted modes (pinned in
    pytest). Completes EM next to the suite's Newton (m43), boosting
    (m39), Lloyd (m25) and closed-form (m26/m44) fits: every classic
    fit loop is now a scan + hash-agg + 1-row broadcast per round."""
    li = t(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity").cast("bigint") + 100 * (F.col("l_orderkey") % 2)).alias("x")
    )
    feats = cache_once(li)
    params = None
    out = []
    for i in range(_EM_ROUNDS):
        if params is None:
            cur = feats.select(
                "x",
                F.lit(_EM_MU1_0).cast("bigint").alias("mu1"),
                F.lit(_EM_MU2_0).cast("bigint").alias("mu2"),
            )
        else:
            cur = feats.crossJoin(F.broadcast(params.select("mu1", "mu2")))
        rs = cur.select("x", F.expr(_EM_R).alias("r")).agg(
            F.sum("r").alias("sr"),
            F.sum(F.col("r") * F.col("x")).alias("srx"),
            F.sum(1000000 - F.col("r")).alias("sq"),
            F.sum((1000000 - F.col("r")) * F.col("x")).alias("sqx"),
        )
        params = rs.select(
            F.expr(
                "CAST(FLOOR(CAST(srx AS DOUBLE) / CAST(sr AS DOUBLE) * 1000000) AS BIGINT)"
            ).alias("mu1"),
            F.expr(
                "CAST(FLOOR(CAST(sqx AS DOUBLE) / CAST(sq AS DOUBLE) * 1000000) AS BIGINT)"
            ).alias("mu2"),
            F.expr("CAST(sr DIV 1000000 AS BIGINT)").alias("n_soft1"),
        )
        out.append(
            params.select(
                F.lit(i + 1).cast("bigint").alias("round"),
                F.col("mu1").alias("mu1_micro"),
                F.col("mu2").alias("mu2_micro"),
                "n_soft1",
            )
        )
    res = out[0]
    for o_ in out[1:]:
        res = res.unionByName(o_)
    return res.orderBy("round")


# --- M46: exact depth-2 CART regression tree -----------------------------------
#
# Extends m39's one-agg-evaluates-every-split machinery one level
# down: after the root split, BOTH children's best splits come from a
# SINGLE grouped aggregate over (side, cut) — depth-d trees need d
# passes, not 2^d, because siblings share the scan.


@register(
    "m46_cart_depth2",
    f"""
    WITH feats AS MATERIALIZED (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(FLOOR(l_extendedprice / 100) AS BIGINT) AS r
        FROM lineitem
    ),
    st0 AS (
        SELECT c.cut,
               SUM(CASE WHEN f.x <= c.cut THEN 1 ELSE 0 END) AS n_l,
               SUM(CASE WHEN f.x <= c.cut THEN f.r ELSE 0 END) AS s_l,
               SUM(CASE WHEN f.x > c.cut THEN 1 ELSE 0 END) AS n_r,
               SUM(CASE WHEN f.x > c.cut THEN f.r ELSE 0 END) AS s_r
        FROM feats f CROSS JOIN {_gbm_cand_sql()} c
        GROUP BY c.cut
    ),
    root AS (
        SELECT ARG_MAX(cut, CAST(FLOOR(
                   CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / n_l
                   + CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE) / n_r
               ) AS BIGINT) * 100 - cut) AS root_cut
        FROM st0
    ),
    st1 AS (
        SELECT f.x <= root.root_cut AS left_side, c.cut,
               SUM(CASE WHEN f.x <= c.cut THEN 1 ELSE 0 END) AS n_l,
               SUM(CASE WHEN f.x <= c.cut THEN f.r ELSE 0 END) AS s_l,
               SUM(CASE WHEN f.x > c.cut THEN 1 ELSE 0 END) AS n_r,
               SUM(CASE WHEN f.x > c.cut THEN f.r ELSE 0 END) AS s_r
        FROM feats f CROSS JOIN {_gbm_cand_sql()} c CROSS JOIN root
        WHERE (f.x <= root.root_cut AND c.cut < root.root_cut)
           OR (f.x > root.root_cut AND c.cut > root.root_cut)
        GROUP BY 1, c.cut
    ),
    child AS (
        SELECT left_side,
               ARG_MAX(cut, CAST(FLOOR(
                   CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / GREATEST(n_l, 1)
                   + CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE) / GREATEST(n_r, 1)
               ) AS BIGINT) * 100 - cut) AS cut,
               ARG_MAX(s_l // GREATEST(n_l, 1), CAST(FLOOR(
                   CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / GREATEST(n_l, 1)
                   + CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE) / GREATEST(n_r, 1)
               ) AS BIGINT) * 100 - cut) AS v_l,
               ARG_MAX(s_r // GREATEST(n_r, 1), CAST(FLOOR(
                   CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / GREATEST(n_l, 1)
                   + CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE) / GREATEST(n_r, 1)
               ) AS BIGINT) * 100 - cut) AS v_r
        FROM st1 GROUP BY left_side
    )
    SELECT CASE WHEN c.left_side THEN 'left' ELSE 'right' END AS child,
           CAST(r.root_cut AS BIGINT) AS root_cut,
           CAST(c.cut AS BIGINT) AS child_cut,
           CAST(c.v_l AS BIGINT) AS leaf_lo,
           CAST(c.v_r AS BIGINT) AS leaf_hi
    FROM child c CROSS JOIN root r
    ORDER BY child
    """,
)
def m46_cart_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M46: exact depth-2 CART regression tree — the m39 discipline
    one level deeper, with the structural point made executable: BOTH
    children's best splits come from ONE grouped aggregate keyed by
    (side, candidate cut) — a depth-d tree is d scans, not 2^d,
    because all siblings share each pass (this is how distributed
    tree learners like XGBoost's hist method structure level-wise
    growth). Candidate cuts are constrained to each child's region;
    scores are whole-unit FLOOR variance gains with the injective
    *100-cut tiebreak (the m39 overflow rule); leaf values are exact
    integer floor-means. Emits the 4-leaf tree. Scale: two scans of
    the cached features, each one hash-agg + 1-row broadcast."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.floor(F.col("l_extendedprice") / 100).cast("bigint").alias("r"),
    )
    feats = cache_once(li)
    cand = spark.range(5, 50, 5).select(F.col("id").cast("bigint").alias("cut"))
    score = (
        "CAST(FLOOR(CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / GREATEST(n_l, 1)"
        " + CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE) / GREATEST(n_r, 1)) AS BIGINT)"
        " * 100 - cut"
    )

    def split_stats(df, keys):
        return df.groupBy(*keys).agg(
            F.sum(F.when(F.col("x") <= F.col("cut"), 1).otherwise(0)).alias("n_l"),
            F.sum(F.when(F.col("x") <= F.col("cut"), F.col("r")).otherwise(0)).alias("s_l"),
            F.sum(F.when(F.col("x") > F.col("cut"), 1).otherwise(0)).alias("n_r"),
            F.sum(F.when(F.col("x") > F.col("cut"), F.col("r")).otherwise(0)).alias("s_r"),
        )

    st0 = split_stats(feats.crossJoin(F.broadcast(cand)), ["cut"])
    root = st0.agg(F.expr(f"max_by(cut, {score})").alias("root_cut"))
    st1 = split_stats(
        feats.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(root))
        .where(
            ((F.col("x") <= F.col("root_cut")) & (F.col("cut") < F.col("root_cut")))
            | ((F.col("x") > F.col("root_cut")) & (F.col("cut") > F.col("root_cut")))
        )
        .withColumn("left_side", F.col("x") <= F.col("root_cut")),
        ["left_side", "cut"],
    )
    child = st1.groupBy("left_side").agg(
        F.expr(f"max_by(cut, {score})").alias("cut"),
        F.expr(f"max_by(s_l div GREATEST(n_l, 1), {score})").alias("v_l"),
        F.expr(f"max_by(s_r div GREATEST(n_r, 1), {score})").alias("v_r"),
    )
    return (
        child.crossJoin(F.broadcast(root))
        .select(
            F.when(F.col("left_side"), "left").otherwise("right").alias("child"),
            F.col("root_cut").cast("bigint").alias("root_cut"),
            F.col("cut").cast("bigint").alias("child_cut"),
            F.col("v_l").cast("bigint").alias("leaf_lo"),
            F.col("v_r").cast("bigint").alias("leaf_hi"),
        )
        .orderBy("child")
    )


# --- M48: decision-threshold tuning (F1-optimal over decile cuts) --------------


@register(
    "m48_f1_threshold_tuning",
    """
    WITH c AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label
        FROM orders
    ),
    cuts AS (
        SELECT quantile_cont(cents, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        FROM c
    ),
    fanned AS (
        SELECT d.decile, c.label,
               CASE WHEN c.cents > cuts.qs[CAST(d.decile AS INTEGER)]
                    THEN 1 ELSE 0 END AS yhat
        FROM c CROSS JOIN cuts
        CROSS JOIN (SELECT UNNEST(RANGE(1, 10)) AS decile) d
    ),
    per AS (
        SELECT decile,
               SUM(CASE WHEN label = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS tp,
               SUM(CASE WHEN label = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS fp,
               SUM(CASE WHEN label = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS fn
        FROM fanned GROUP BY decile
    ),
    scored AS (
        SELECT decile, tp, fp, fn,
               (2 * tp * 1000000) // (2 * tp + fp + fn) AS f1_micro
        FROM per
    ),
    best AS (SELECT MAX(f1_micro * 10 - decile) AS bkey FROM scored)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CAST(f1_micro AS BIGINT) AS f1_micro,
           f1_micro * 10 - decile = best.bkey AS is_best
    FROM scored CROSS JOIN best
    ORDER BY decile
    """,
)
def m48_f1_threshold_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M48: decision-threshold tuning — the serving-side step after
    m28's fixed-median confusion matrix: sweep the score threshold
    over the nine population deciles (ONE percentile aggregate
    broadcast, the a23 idiom; each row evaluates all nine thresholds
    in a constant fan-out so the sweep is one hash-agg, not nine
    scans) and emit the full F1 ledger with the argmax flagged
    (injective f1*10 - decile key, ties to the lower threshold). The
    m29 lift table ranks; this PICKS the operating point. Integer
    cross-multiplied F1; 9-row output at any scale."""
    o = t(spark, sf_dir, "orders")
    c = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("label"),
    )
    cuts = c.agg(
        F.percentile("cents", F.array(*[F.lit(x / 10.0) for x in range(1, 10)])).alias("qs")
    )
    deciles = spark.range(1, 10).select(F.col("id").cast("int").alias("decile"))
    fanned = (
        c.crossJoin(F.broadcast(cuts))
        .crossJoin(F.broadcast(deciles))
        .select(
            "decile",
            "label",
            F.when(
                F.col("cents") > F.expr("element_at(qs, CAST(decile AS INT))"), 1
            )
            .otherwise(0)
            .alias("yhat"),
        )
    )
    per = fanned.groupBy("decile").agg(
        F.sum(F.when((F.col("label") == 1) & (F.col("yhat") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("label") == 0) & (F.col("yhat") == 1), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("label") == 1) & (F.col("yhat") == 0), 1).otherwise(0)).alias("fn"),
    )
    scored = per.select(
        "decile", "tp", "fp", "fn",
        F.expr("(2 * tp * 1000000) DIV (2 * tp + fp + fn)").alias("f1_micro"),
    )
    best = scored.agg(F.max(F.col("f1_micro") * 10 - F.col("decile")).alias("bkey"))
    return (
        scored.crossJoin(F.broadcast(best))
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            F.col("tp").cast("bigint").alias("tp"),
            F.col("fp").cast("bigint").alias("fp"),
            F.col("fn").cast("bigint").alias("fn"),
            F.col("f1_micro").cast("bigint").alias("f1_micro"),
            (F.col("f1_micro") * 10 - F.col("decile") == F.col("bkey")).alias("is_best"),
        )
        .orderBy("decile")
    )


# --- M49: ridge regression shrinkage path (closed form, centered) --------------

_RIDGE_LAMBDAS = (0, 50, 200)  # per-row penalty; var(x) ~ 208, so 200 ~ halves beta


@register(
    "m49_ridge_closed_form",
    f"""
    WITH m AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy
        FROM (
            SELECT CAST(l_quantity AS BIGINT) AS x,
                   CAST(FLOOR(l_extendedprice / 100) AS BIGINT) AS y
            FROM lineitem
        )
    ),
    lam AS (SELECT UNNEST([{", ".join(map(str, _RIDGE_LAMBDAS))}]) AS lambda)
    SELECT CAST(lam.lambda AS BIGINT) AS lambda,
           CAST(FLOOR(CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                / (CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE)
                   + lam.lambda * CAST(m.n AS DOUBLE) * CAST(m.n AS DOUBLE))
                * 1000000) AS BIGINT) AS beta_micro,
           CAST(FLOOR(CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE)
                / (CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE)
                   + lam.lambda * CAST(m.n AS DOUBLE) * CAST(m.n AS DOUBLE))
                * 1000000) AS BIGINT) AS shrinkage_micro
    FROM m CROSS JOIN lam
    ORDER BY lambda
    """,
)
def m49_ridge_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M49: ridge regression shrinkage path — the L2-regularized
    counterpart of m26's OLS in centered closed form: beta(lambda) =
    Sxy / (Sxx + lambda*n) over the n-scaled exact-integer moments
    (n*Sxy - Sx*Sy etc., the m44 discipline — no float means), with
    the penalty entering as lambda*n^2 in scaled units so the SAME
    lambda means the same per-row shrinkage at every SF. Emits beta
    and the shrinkage factor Sxx/(Sxx+lambda*n) per lambda on a
    3-value path (lambda=0 reproduces OLS exactly — the built-in
    regression test). One moment aggregate, constant lambda fan-out;
    at 100 TB the whole path costs one scan."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.floor(F.col("l_extendedprice") / 100).cast("bigint").alias("y"),
    )
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    lam = spark.range(len(_RIDGE_LAMBDAS)).select(
        F.element_at(
            F.array(*[F.lit(v) for v in _RIDGE_LAMBDAS]), (F.col("id") + 1).cast("int")
        ).alias("lambda")
    )
    num = "CAST(n * sxy - sx * sy AS DOUBLE)"
    den = "(CAST(n * sxx - sx * sx AS DOUBLE) + lambda * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
    b = "CAST(n * sxx - sx * sx AS DOUBLE)"
    return (
        m.crossJoin(F.broadcast(lam))
        .select(
            F.col("lambda").cast("bigint").alias("lambda"),
            F.expr(f"CAST(FLOOR({num} / {den} * 1000000) AS BIGINT)").alias("beta_micro"),
            F.expr(f"CAST(FLOOR({b} / {den} * 1000000) AS BIGINT)").alias(
                "shrinkage_micro"
            ),
        )
        .orderBy("lambda")
    )


# --- M50: Poisson regression via Newton scoring (exact relational IRLS) --------
#
# Count model: y = line items per order, x = order priority class
# (0..4). Rate lambda = exp(b0 + b1 x); Newton scoring needs only
# (g0, g1, H00, H01, H11) per round with lambda FLOOR-micro'd per row
# — the m43 discipline applied to the log link.

_POIS_ROUNDS = 3

_POIS_LAM = (
    "CAST(FLOOR(EXP((CAST(b0 AS DOUBLE) + CAST(b1 AS DOUBLE) * x) / 1000000)"
    " * 1000000) AS BIGINT)"
)


_POIS_FIT = dict(
    target="y * 1000000",
    term=("lam", _POIS_LAM),
    params=(("b0", _NEWTON_D0), ("b1", _NEWTON_D1)),
    rounds=_POIS_ROUNDS,
)

_POIS_ORACLE = f"""
    WITH feats AS MATERIALIZED (
        SELECT CASE o.o_orderpriority
                 WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1 WHEN '3-MEDIUM' THEN 2
                 WHEN '4-NOT SPECIFIED' THEN 3 ELSE 4 END AS x,
               c.y
        FROM orders o
        JOIN (SELECT l_orderkey, COUNT(*) AS y FROM lineitem GROUP BY l_orderkey) c
          ON c.l_orderkey = o.o_orderkey
    ),
    {_newton_fit_sql(weight="lam", **_POIS_FIT)}"""


@register("m50_poisson_newton", _POIS_ORACLE)
def m50_poisson_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M50: Poisson regression (log link) fit by Newton scoring,
    entirely relational — the count-GLM sibling of m43's logistic
    IRLS and the EXACT counterpart of m21's MLlib Poisson fit: per
    round, per-row rates lambda = exp(eta) are FLOOR-micro'd before
    summation so gradient and Hessian are exact BIGINT sums, and the
    2x2 scoring step is one fixed IEEE tree. Modeled: line items per
    order by priority class. Three unrolled rounds; scan + hash-agg +
    1-row broadcast each — the GLM family (Gaussian m26, binomial
    m43, Poisson m50) now all fit in pure SQL with hash-compared
    coefficients."""
    li = t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("y")
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", 0)
        .when(F.col("o_orderpriority") == "2-HIGH", 1)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 2)
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", 3)
        .otherwise(4)
        .alias("x"),
    )
    feats = cache_once(o.join(li, o.o_orderkey == li.l_orderkey).select("x", "y"))
    return newton_fit(feats, weight="lam", **_POIS_FIT)


# --- M57: McNemar paired classifier comparison -------------------------------

# chi-square(df=1) 95% critical value in micro units — a shared literal
# (data, not arithmetic) on both engines.
_MCNEMAR_CRIT_MICRO = 3841459

_M57_ORACLE = f"""
    WITH base AS (
        SELECT o.o_orderkey,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label,
               COUNT(*) AS n_items
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2, 3
    ),
    thr AS (
        SELECT quantile_cont(cents, 0.5) AS med_cents,
               quantile_cont(n_items, 0.5) AS med_items
        FROM base
    ),
    scored AS (
        SELECT label,
               CASE WHEN (CASE WHEN b.cents > t.med_cents THEN 1 ELSE 0 END)
                         = label THEN 1 ELSE 0 END AS ok_a,
               CASE WHEN (CASE WHEN b.n_items > t.med_items THEN 1 ELSE 0 END)
                         = label THEN 1 ELSE 0 END AS ok_b
        FROM base b, thr t
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(ok_a * ok_b) AS BIGINT) AS n11,
               CAST(SUM(ok_a * (1 - ok_b)) AS BIGINT) AS n10,
               CAST(SUM((1 - ok_a) * ok_b) AS BIGINT) AS n01,
               CAST(SUM((1 - ok_a) * (1 - ok_b)) AS BIGINT) AS n00
        FROM scored
    )
    SELECT n, n11, n10, n01, n00,
           CAST((n11 + n10) * 1000000 // n AS BIGINT) AS acc_a_micro,
           CAST((n11 + n01) * 1000000 // n AS BIGINT) AS acc_b_micro,
           CAST(CASE WHEN n10 + n01 = 0 THEN 0 ELSE
                (ABS(n10 - n01) - 1) * (ABS(n10 - n01) - 1) * 1000000
                // (n10 + n01) END AS BIGINT) AS mcnemar_micro,
           CAST({_MCNEMAR_CRIT_MICRO} AS BIGINT) AS chi2_crit_micro,
           CAST(CASE WHEN n10 + n01 > 0 AND
                (ABS(n10 - n01) - 1) * (ABS(n10 - n01) - 1) * 1000000
                // (n10 + n01) > {_MCNEMAR_CRIT_MICRO}
                THEN 1 ELSE 0 END AS BIGINT) AS reject_h0
    FROM m
"""


@register("m57_mcnemar_test", _M57_ORACLE)
def m57_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M57: McNemar's test — the PAIRED classifier comparison the
    experiment family was missing (a30 Welch and ev21's z-test compare
    independent samples; model A vs model B evaluated on the SAME rows
    is a matched-pairs design, and the unpaired tests overstate
    variance). Classifier A is m28's median-price rule, classifier B a
    median-basket-size rule, both predicting URGENT orders; the test
    statistic uses only the DISCORDANT counts:
    (|n10-n01|-1)^2/(n10+n01), continuity-corrected, vs chi-square(1)
    at 95%. Exactness: thresholds are exact interpolated medians of
    integers (the m28 quantile discipline), every count is one
    map-side BIGINT aggregate, and the statistic is one integer
    division in micro units ((|b-c|-1)^2*1e6 caps at ~4n^2*1e6 — under
    2^63 for n below ~1.5M discordant pairs; past that, drop the *1e6
    into the divisor). Plan: one orders-sized join+groupBy, a 1-row
    broadcast threshold frame, one confusion aggregate — no shuffle
    after the first agg."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("label"),
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey")
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "cents", "label")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
    thr = base.agg(
        F.percentile("cents", F.lit(0.5)).alias("med_cents"),
        F.percentile("n_items", F.lit(0.5)).alias("med_items"),
    )
    scored = base.crossJoin(F.broadcast(thr)).select(
        F.when(
            F.when(F.col("cents") > F.col("med_cents"), 1).otherwise(0) == F.col("label"), 1
        ).otherwise(0).alias("ok_a"),
        F.when(
            F.when(F.col("n_items") > F.col("med_items"), 1).otherwise(0) == F.col("label"), 1
        ).otherwise(0).alias("ok_b"),
    )
    m = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("ok_a") * F.col("ok_b")).cast("bigint").alias("n11"),
        F.sum(F.col("ok_a") * (1 - F.col("ok_b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("ok_a")) * F.col("ok_b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("ok_a")) * (1 - F.col("ok_b"))).cast("bigint").alias("n00"),
    )
    return m.select(
        "n", "n11", "n10", "n01", "n00",
        F.expr("CAST((n11 + n10) * 1000000 DIV n AS BIGINT)").alias("acc_a_micro"),
        F.expr("CAST((n11 + n01) * 1000000 DIV n AS BIGINT)").alias("acc_b_micro"),
        F.expr(
            "CAST(CASE WHEN n10 + n01 = 0 THEN 0 ELSE"
            " (ABS(n10 - n01) - 1) * (ABS(n10 - n01) - 1) * 1000000"
            " DIV (n10 + n01) END AS BIGINT)"
        ).alias("mcnemar_micro"),
        F.expr(f"CAST({_MCNEMAR_CRIT_MICRO} AS BIGINT)").alias("chi2_crit_micro"),
        F.expr(
            "CAST(CASE WHEN n10 + n01 > 0 AND"
            " (ABS(n10 - n01) - 1) * (ABS(n10 - n01) - 1) * 1000000"
            f" DIV (n10 + n01) > {_MCNEMAR_CRIT_MICRO}"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_h0"),
    )


# --- M58: DeLong paired AUC comparison ----------------------------------------

# Variance-of-difference and z templates for the DeLong test, built
# from NAMED PLACEHOLDERS (no substring surgery — the t30 lesson,
# tokenizers.py round-9 fix) so the same arithmetic text renders with
# bare column names on the Spark side and qualified names in the
# oracle. All placeholder inputs are exact BIGINT moments; this chain
# is the only floating point in the operator.
_DELONG_VAR_TMPL = (
    "(((CAST({ssa} AS DOUBLE) - CAST({sa} AS DOUBLE) * CAST({sa} AS DOUBLE) / CAST({np} AS DOUBLE))"
    " + (CAST({ssb} AS DOUBLE) - CAST({sb} AS DOUBLE) * CAST({sb} AS DOUBLE) / CAST({np} AS DOUBLE))"
    " - 2 * (CAST({sab} AS DOUBLE) - CAST({sa} AS DOUBLE) * CAST({sb} AS DOUBLE) / CAST({np} AS DOUBLE)))"
    " / (CAST({np} AS DOUBLE) - 1) / (4 * CAST({nn} AS DOUBLE) * CAST({nn} AS DOUBLE)) / CAST({np} AS DOUBLE)"
    " + ((CAST({tsa} AS DOUBLE) - CAST({ta} AS DOUBLE) * CAST({ta} AS DOUBLE) / CAST({nn} AS DOUBLE))"
    " + (CAST({tsb} AS DOUBLE) - CAST({tb} AS DOUBLE) * CAST({tb} AS DOUBLE) / CAST({nn} AS DOUBLE))"
    " - 2 * (CAST({tab} AS DOUBLE) - CAST({ta} AS DOUBLE) * CAST({tb} AS DOUBLE) / CAST({nn} AS DOUBLE)))"
    " / (CAST({nn} AS DOUBLE) - 1) / (4 * CAST({np} AS DOUBLE) * CAST({np} AS DOUBLE)) / CAST({nn} AS DOUBLE))"
)

_DELONG_Z_TMPL = (
    "CAST(CASE WHEN {np} < 2 OR {nn} < 2 THEN 0"
    " WHEN " + _DELONG_VAR_TMPL + " <= 0 THEN 0 ELSE"
    " FLOOR((CAST({sa} AS DOUBLE) - CAST({sb} AS DOUBLE))"
    " / (2 * CAST({np} AS DOUBLE) * CAST({nn} AS DOUBLE))"
    " / SQRT(" + _DELONG_VAR_TMPL + ") * 1000000) END AS BIGINT)"
)

_Z_CRIT_MICRO = 1959964  # two-sided 5% normal critical value


def _delong_z(**names: str) -> str:
    return _DELONG_Z_TMPL.format(**names)


_DELONG_BARE = dict(
    np="np", nn="nn", sa="sa", sb="sb", ssa="ssa", ssb="ssb", sab="sab",
    ta="ta", tb="tb", tsa="tsa", tsb="tsb", tab="tab",
)
_DELONG_QUAL = dict(
    np="tot.np", nn="tot.nn", sa="m.sa", sb="m.sb", ssa="m.ssa",
    ssb="m.ssb", sab="m.sab", ta="m.ta", tb="m.tb", tsa="m.tsa",
    tsb="m.tsb", tab="m.tab",
)

_M58_ORACLE = f"""
    WITH base AS (
        SELECT o.o_orderkey,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS s_a,
               CAST(COUNT(*) AS BIGINT) AS s_b,
               CAST(CASE WHEN o.o_orderpriority = '1-URGENT'
                    THEN 1 ELSE 0 END AS BIGINT) AS label
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2, 4
    ),
    tot AS (
        SELECT CAST(SUM(label) AS BIGINT) AS np,
               CAST(COUNT(*) - SUM(label) AS BIGINT) AS nn
        FROM base
    ),
    led_a AS (
        SELECT s_a AS s,
               CAST(SUM(label) AS BIGINT) AS p_at,
               CAST(SUM(1 - label) AS BIGINT) AS n_at,
               CAST(SUM(SUM(label)) OVER (ORDER BY s_a) AS BIGINT) AS p_cum,
               CAST(SUM(SUM(1 - label)) OVER (ORDER BY s_a) AS BIGINT) AS n_cum
        FROM base GROUP BY s_a
    ),
    led_b AS (
        SELECT s_b AS s,
               CAST(SUM(label) AS BIGINT) AS p_at,
               CAST(SUM(1 - label) AS BIGINT) AS n_at,
               CAST(SUM(SUM(label)) OVER (ORDER BY s_b) AS BIGINT) AS p_cum,
               CAST(SUM(SUM(1 - label)) OVER (ORDER BY s_b) AS BIGINT) AS n_cum
        FROM base GROUP BY s_b
    ),
    v AS (
        SELECT b.label,
               2 * (la.n_cum - la.n_at) + la.n_at AS v10a,
               2 * (tot.np - la.p_cum) + la.p_at AS v01a,
               2 * (lb.n_cum - lb.n_at) + lb.n_at AS v10b,
               2 * (tot.np - lb.p_cum) + lb.p_at AS v01b
        FROM base b
        JOIN led_a la ON la.s = b.s_a
        JOIN led_b lb ON lb.s = b.s_b
        CROSS JOIN tot
    ),
    moms AS (
        SELECT
            CAST(SUM(CASE WHEN label = 1 THEN v10a ELSE 0 END) AS BIGINT) AS sa,
            CAST(SUM(CASE WHEN label = 1 THEN v10b ELSE 0 END) AS BIGINT) AS sb,
            CAST(SUM(CASE WHEN label = 1 THEN v10a * v10a ELSE 0 END) AS BIGINT) AS ssa,
            CAST(SUM(CASE WHEN label = 1 THEN v10b * v10b ELSE 0 END) AS BIGINT) AS ssb,
            CAST(SUM(CASE WHEN label = 1 THEN v10a * v10b ELSE 0 END) AS BIGINT) AS sab,
            CAST(SUM(CASE WHEN label = 0 THEN v01a ELSE 0 END) AS BIGINT) AS ta,
            CAST(SUM(CASE WHEN label = 0 THEN v01b ELSE 0 END) AS BIGINT) AS tb,
            CAST(SUM(CASE WHEN label = 0 THEN v01a * v01a ELSE 0 END) AS BIGINT) AS tsa,
            CAST(SUM(CASE WHEN label = 0 THEN v01b * v01b ELSE 0 END) AS BIGINT) AS tsb,
            CAST(SUM(CASE WHEN label = 0 THEN v01a * v01b ELSE 0 END) AS BIGINT) AS tab
        FROM v
    )
    SELECT tot.np AS n_pos, tot.nn AS n_neg,
           m.sa AS sum_v10_a, m.sb AS sum_v10_b,
           m.ta AS sum_v01_a, m.tb AS sum_v01_b,
           CAST(m.sa * 1000000 // (2 * tot.np * tot.nn) AS BIGINT) AS auc_a_micro,
           CAST(m.sb * 1000000 // (2 * tot.np * tot.nn) AS BIGINT) AS auc_b_micro,
           {_delong_z(**_DELONG_QUAL)} AS z_micro,
           CAST(CASE WHEN ABS({_delong_z(**_DELONG_QUAL)}) > {_Z_CRIT_MICRO}
                THEN 1 ELSE 0 END AS BIGINT) AS reject_h0
    FROM moms m, tot
"""


@register("m58_delong_auc_test", _M58_ORACLE)
def m58_delong_auc_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M58: DeLong's test for two correlated AUCs — the ranking-space
    companion to m57's McNemar (which compares the THRESHOLDED rules):
    are the price score and the basket-size score different RANKERS of
    urgent orders? AUC is the Mann-Whitney statistic; DeLong's
    structural components V10_i (per positive: the fraction of
    negatives it outranks) and V01_j (per negative: the fraction of
    positives outranking it) yield a paired variance that accounts for
    the correlation of both models on the SAME samples. Exactness:
    each V is carried in 2x-count units (2*below + ties — exact
    integers in [0, 2n]); per-sample Vs come from per-distinct-score
    ledgers joined back to samples, with cumulative counts via the
    DISTRIBUTED PREFIX SUM (ordered.py) on the Spark side and a
    global-order window in the (single-node) oracle — the engine never
    funnels the score ledger through one task. Moments are map-side
    BIGINT sums; the variance/z chain is the one double text
    (_DELONG_Z_TMPL, named placeholders — no substring surgery).
    Bounds: v <= 2n, so v^2 sums cross 2^63 only past ~10M positives
    with ~1e6 negatives; past that, moments need decimal(38) carry
    (documented, not hit at any tested SF)."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("s_a"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .cast("bigint")
        .alias("label"),
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey")
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "s_a", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("s_b"))
    )

    base = cache_once(base)
    tot = base.agg(
        F.sum("label").cast("bigint").alias("np"),
        (F.count(F.lit(1)) - F.sum("label")).cast("bigint").alias("nn"),
    )

    def ledger(col: str) -> DataFrame:
        led = base.groupBy(F.col(col).alias("s")).agg(
            F.sum("label").cast("bigint").alias("p_at"),
            F.sum(1 - F.col("label")).cast("bigint").alias("n_at"),
        )
        led = distributed_prefix_sum(led, [F.col("s")], "p_at", out_col="p_cum")
        led = distributed_prefix_sum(led, [F.col("s")], "n_at", out_col="n_cum")
        return led.select("s", "p_at", "n_at", "p_cum", "n_cum")

    led_a, led_b = ledger("s_a"), ledger("s_b")
    v = (
        base.join(
            led_a.select(
                F.col("s").alias("s_a"),
                F.col("p_at").alias("pa_at"), F.col("n_at").alias("na_at"),
                F.col("p_cum").alias("pa_cum"), F.col("n_cum").alias("na_cum"),
            ),
            "s_a",
        )
        .join(
            led_b.select(
                F.col("s").alias("s_b"),
                F.col("p_at").alias("pb_at"), F.col("n_at").alias("nb_at"),
                F.col("p_cum").alias("pb_cum"), F.col("n_cum").alias("nb_cum"),
            ),
            "s_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "label",
            (2 * (F.col("na_cum") - F.col("na_at")) + F.col("na_at")).alias("v10a"),
            (2 * (F.col("np") - F.col("pa_cum")) + F.col("pa_at")).alias("v01a"),
            (2 * (F.col("nb_cum") - F.col("nb_at")) + F.col("nb_at")).alias("v10b"),
            (2 * (F.col("np") - F.col("pb_cum")) + F.col("pb_at")).alias("v01b"),
        )
    )
    pos = F.col("label") == 1
    moms = v.agg(
        F.sum(F.when(pos, F.col("v10a")).otherwise(0)).cast("bigint").alias("sa"),
        F.sum(F.when(pos, F.col("v10b")).otherwise(0)).cast("bigint").alias("sb"),
        F.sum(F.when(pos, F.col("v10a") * F.col("v10a")).otherwise(0)).cast("bigint").alias("ssa"),
        F.sum(F.when(pos, F.col("v10b") * F.col("v10b")).otherwise(0)).cast("bigint").alias("ssb"),
        F.sum(F.when(pos, F.col("v10a") * F.col("v10b")).otherwise(0)).cast("bigint").alias("sab"),
        F.sum(F.when(~pos, F.col("v01a")).otherwise(0)).cast("bigint").alias("ta"),
        F.sum(F.when(~pos, F.col("v01b")).otherwise(0)).cast("bigint").alias("tb"),
        F.sum(F.when(~pos, F.col("v01a") * F.col("v01a")).otherwise(0)).cast("bigint").alias("tsa"),
        F.sum(F.when(~pos, F.col("v01b") * F.col("v01b")).otherwise(0)).cast("bigint").alias("tsb"),
        F.sum(F.when(~pos, F.col("v01a") * F.col("v01b")).otherwise(0)).cast("bigint").alias("tab"),
    )
    z_expr = _delong_z(**_DELONG_BARE)
    return moms.crossJoin(F.broadcast(tot)).select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        F.col("sa").alias("sum_v10_a"),
        F.col("sb").alias("sum_v10_b"),
        F.col("ta").alias("sum_v01_a"),
        F.col("tb").alias("sum_v01_b"),
        F.expr("CAST(sa * 1000000 DIV (2 * np * nn) AS BIGINT)").alias("auc_a_micro"),
        F.expr("CAST(sb * 1000000 DIV (2 * np * nn) AS BIGINT)").alias("auc_b_micro"),
        F.expr(z_expr).alias("z_micro"),
        F.expr(
            f"CAST(CASE WHEN ABS({z_expr}) > {_Z_CRIT_MICRO} THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_h0"),
    )


# --- M59: Friedman test across segment blocks ----------------------------------

# Friedman chi-square in micro units from DOUBLED rank sums (r2s_j =
# 2*R_j keeps average ranks integral), ONE shared SQL text:
# chi2 = 12/(b*k*(k+1)) * sum_j (R_j - b*(k+1)/2)^2 with b blocks and
# k treatments; with 2x ranks the deviation is (r2s_j - b*(k+1))/2,
# so the squared term carries a /4. Inputs are exact BIGINTs.
_FRIEDMAN_CHI2 = (
    "CAST(FLOOR(12.0 / (CAST(b AS DOUBLE) * 3 * 4)"
    " * CAST(dev2_sum AS DOUBLE) / 4 * 1000000) AS BIGINT)"
)

_CHI2_DF2_CRIT_MICRO = 5991465  # chi-square(2) 95%

_M59_ORACLE = f"""
    WITH base AS (
        SELECT o.o_orderkey, c.c_nationkey AS nat,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS s_price,
               CAST(COUNT(*) AS BIGINT) AS s_items,
               CAST(MAX(ROUND(l.l_extendedprice * 100)) AS BIGINT) AS s_maxline,
               CAST(CASE WHEN o.o_orderpriority = '1-URGENT'
                    THEN 1 ELSE 0 END AS BIGINT) AS label
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2, 3, 6
    ),
    long AS (
        SELECT nat, label, 'price' AS rule, s_price AS score FROM base
        UNION ALL
        SELECT nat, label, 'items' AS rule, s_items AS score FROM base
        UNION ALL
        SELECT nat, label, 'maxline' AS rule, s_maxline AS score FROM base
    ),
    ranked AS (
        SELECT nat, rule, label,
               2 * RANK() OVER (PARTITION BY nat, rule ORDER BY score)
                 + COUNT(*) OVER (PARTITION BY nat, rule, score) - 1 AS r2
        FROM long
    ),
    auc AS (
        SELECT nat, rule,
               CAST(SUM(label) AS BIGINT) AS np,
               CAST(COUNT(*) - SUM(label) AS BIGINT) AS nn,
               CAST(SUM(CASE WHEN label = 1 THEN r2 ELSE 0 END) AS BIGINT)
                   AS pos_r2
        FROM ranked GROUP BY nat, rule
    ),
    auc_m AS (
        SELECT nat, rule,
               CAST((pos_r2 - np * (np + 1)) * 1000000 // (2 * np * nn)
                    AS BIGINT) AS auc_micro
        FROM auc WHERE np > 0 AND nn > 0
    ),
    block_ranks AS (
        SELECT rule,
               2 * RANK() OVER (PARTITION BY nat ORDER BY auc_micro)
                 + COUNT(*) OVER (PARTITION BY nat, auc_micro) - 1 AS r2
        FROM auc_m
    ),
    sums AS (
        SELECT rule,
               CAST(SUM(r2) AS BIGINT) AS rank2x_sum,
               CAST(COUNT(*) AS BIGINT) AS b
        FROM block_ranks GROUP BY rule
    ),
    dev AS (
        SELECT CAST(SUM((rank2x_sum - b * 4) * (rank2x_sum - b * 4))
                    AS BIGINT) AS dev2_sum,
               CAST(ANY_VALUE(b) AS BIGINT) AS b
        FROM sums
    ),
    mean_auc AS (
        SELECT rule, CAST(SUM(auc_micro) // COUNT(*) AS BIGINT)
                   AS mean_auc_micro
        FROM auc_m GROUP BY rule
    ),
    sums2 AS (
        SELECT rule, rank2x_sum, b AS n_blocks FROM sums
    )
    SELECT s.rule AS rule, s.rank2x_sum, s.n_blocks, ma.mean_auc_micro,
           {_FRIEDMAN_CHI2} AS friedman_chi2_micro,
           CAST(CASE WHEN {_FRIEDMAN_CHI2} > {_CHI2_DF2_CRIT_MICRO}
                THEN 1 ELSE 0 END AS BIGINT) AS reject_h0
    FROM sums2 s
    JOIN mean_auc ma ON ma.rule = s.rule
    CROSS JOIN dev
    ORDER BY s.rule
"""


@register("m59_friedman_test", _M59_ORACLE)
def m59_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M59: Friedman test — does ANY of three scoring rules (order
    price, basket size, max line value) rank urgent orders differently,
    judged ACROSS nation blocks? The k-treatment generalization that
    completes the model-comparison ladder: m57 McNemar (2 thresholded
    rules, pooled), m58 DeLong (2 rankers, pooled), m59 (k rankers,
    blocked by segment — the repeated-measures design that respects
    per-nation heterogeneity). Per (nation, rule): AUC via the
    rank-sum identity on DOUBLED average ranks (a51's tie-exact
    integers); per nation the 3 AUCs are ranked (again 2x ranks);
    Friedman chi2 from the rank sums via the shared _FRIEDMAN_CHI2
    text vs chi-square(2) at 95%. Plan: one orders-sized join+groupBy,
    a 3x unpivot, windows all PARTITIONED by (nation, rule) — then
    everything is a 75-row frame. Emits per rule: block count, 2x rank
    sum, mean AUC, and the (shared) statistic/decision."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("s_price"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .cast("bigint")
        .alias("label"),
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", F.col("c_nationkey").alias("nat"), "s_price", "label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("s_items"),
            F.max(F.round(F.col("l_extendedprice") * 100)).cast("bigint").alias("s_maxline"),
        )
    )
    long = (
        base.select("nat", "label", F.lit("price").alias("rule"), F.col("s_price").alias("score"))
        .unionByName(
            base.select("nat", "label", F.lit("items").alias("rule"), F.col("s_items").alias("score"))
        )
        .unionByName(
            base.select("nat", "label", F.lit("maxline").alias("rule"), F.col("s_maxline").alias("score"))
        )
    )
    wr = Window.partitionBy("nat", "rule")
    ranked = long.select(
        "nat",
        "rule",
        "label",
        (
            2 * F.rank().over(wr.orderBy("score"))
            + F.count(F.lit(1)).over(Window.partitionBy("nat", "rule", "score"))
            - 1
        ).alias("r2"),
    )
    auc = ranked.groupBy("nat", "rule").agg(
        F.sum("label").cast("bigint").alias("np"),
        (F.count(F.lit(1)) - F.sum("label")).cast("bigint").alias("nn"),
        F.sum(F.when(F.col("label") == 1, F.col("r2")).otherwise(0))
        .cast("bigint")
        .alias("pos_r2"),
    )
    auc_m = auc.where((F.col("np") > 0) & (F.col("nn") > 0)).select(
        "nat",
        "rule",
        F.expr("CAST((pos_r2 - np * (np + 1)) * 1000000 DIV (2 * np * nn) AS BIGINT)").alias(
            "auc_micro"
        ),
    )
    block_ranks = auc_m.select(
        "rule",
        (
            2 * F.rank().over(Window.partitionBy("nat").orderBy("auc_micro"))
            + F.count(F.lit(1)).over(Window.partitionBy("nat", "auc_micro"))
            - 1
        ).alias("r2"),
    )
    sums = block_ranks.groupBy("rule").agg(
        F.sum("r2").cast("bigint").alias("rank2x_sum"),
        F.count(F.lit(1)).cast("bigint").alias("b"),
    )
    dev = sums.agg(
        F.sum(
            (F.col("rank2x_sum") - F.col("b") * 4) * (F.col("rank2x_sum") - F.col("b") * 4)
        )
        .cast("bigint")
        .alias("dev2_sum"),
        F.expr("CAST(any_value(b) AS BIGINT)").alias("b"),
    )
    mean_auc = auc_m.groupBy("rule").agg(
        F.expr("CAST(SUM(auc_micro) DIV COUNT(*) AS BIGINT)").alias("mean_auc_micro")
    )
    return (
        sums.withColumnRenamed("b", "n_blocks")
        .join(F.broadcast(mean_auc), "rule")
        .crossJoin(F.broadcast(dev))
        .select(
            "rule",
            "rank2x_sum",
            "n_blocks",
            "mean_auc_micro",
            F.expr(_FRIEDMAN_CHI2).alias("friedman_chi2_micro"),
            F.expr(
                f"CAST(CASE WHEN {_FRIEDMAN_CHI2} > {_CHI2_DF2_CRIT_MICRO}"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("reject_h0"),
        )
        .orderBy("rule")
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
