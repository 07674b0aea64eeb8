"""Probability-calibration operators, split out of queries_mleval.py
(round 8, mechanical move at the calibration seam — no semantic
change): reliability binning (m34), the exact isotonic PAV fit (m52),
and the Brier Murphy decomposition (m53). Fit + diagnosis share one
binning; every statistic is integer-exact (see each docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestate_engine.queries_mleval import (
    _IRLS_W,
    _IRLS_W_SQL,
    _NEWTON_D0,
    _NEWTON_D1,
    _newton_fit_sql,
    newton_fit,
)
from realestate_engine.registry import cache_once, register, t


@register(
    "m34_calibration_bins",
    """
    WITH scored AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
                    THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    binned AS (
        SELECT LEAST(9, cents // 5000000) AS bin, cents, y FROM scored
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS positives,
           CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS rate_micro,
           CAST(SUM(cents) // COUNT(*) AS BIGINT) AS avg_cents
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def m34_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M34: calibration / reliability table — the model-monitoring
    counterpart to m31_conformal_interval: bucket a score into fixed
    equal-width bins and report the empirical positive rate per bin
    (the reliability-diagram input; a well-calibrated score has
    rate ~ bin midpoint). The score here is the deterministic
    order-value signal (integer cents; fixed edges, so bin assignment
    is exact integer math — no NTILE global window, no float edge
    hazard) and the outcome is the high-priority flag. rate in exact
    integer micros (positives*1e6 div n), the repo-wide ratio idiom.

    Scale: single hash-agg on a 10-value key — partial aggregation
    collapses everything map-side; the shuffle moves ≤10 rows per
    task regardless of corpus size."""
    o = t(spark, sf_dir, "orders")
    scored = o.select(
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.when(
            F.col("o_orderpriority").startswith("1-") | F.col("o_orderpriority").startswith("2-"),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("y"),
    )
    binned = scored.select(F.least(F.lit(9), F.expr("cents div 5000000")).cast("long").alias("bin"), "cents", "y")
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("positives"),
            F.expr("CAST(SUM(y) * 1000000 DIV COUNT(*) AS BIGINT)").alias("rate_micro"),
            F.expr("CAST(SUM(cents) DIV COUNT(*) AS BIGINT)").alias("avg_cents"),
        )
        .orderBy("bin")
    )


@register(
    "m52_isotonic_pav_exact",
    """
    WITH binstats AS (
        SELECT LEAST(9, CAST(FLOOR(value / 50) AS BIGINT)) AS bin,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    intervals AS (
        SELECT j.bin AS j, k.bin AS k,
               CAST(SUM(m.s) AS BIGINT) AS s_jk, CAST(SUM(m.n) AS BIGINT) AS n_jk,
               CAST(SUM(m.s) * 1000000000000 // SUM(m.n) AS BIGINT) AS scaled
        FROM binstats j
        JOIN binstats k ON k.bin >= j.bin
        JOIN binstats m ON m.bin BETWEEN j.bin AND k.bin
        GROUP BY j.bin, k.bin
    ),
    inner_min AS (
        SELECT b.bin, i.j, CAST(MIN(i.scaled) AS BIGINT) AS min_scaled
        FROM binstats b
        JOIN intervals i ON i.j <= b.bin AND i.k >= b.bin
        GROUP BY b.bin, i.j
    ),
    iso AS (
        SELECT bin, CAST(MAX(min_scaled) AS BIGINT) AS iso_scaled
        FROM inner_min GROUP BY bin
    )
    SELECT b.bin, b.n, b.s,
           CAST(b.s * 1000000 // b.n AS BIGINT) AS raw_rate_micro,
           CAST(i.iso_scaled // 1000000 AS BIGINT) AS iso_rate_micro,
           CAST(i.iso_scaled // 1000000 AS BIGINT)
               <> CAST(b.s * 1000000 // b.n AS BIGINT) AS pooled
    FROM binstats b JOIN iso i USING (bin)
    ORDER BY b.bin
    """,
)
def m52_isotonic_pav_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT isotonic regression (the calibration fit) via the max-min
    closed form: the pool-adjacent-violators solution at bin i equals
    max_{j<=i} min_{k>=i} mean(y over bins j..k) — no sequential PAV
    loop. Rational interval means are compared through an exact
    integer order key, S·1e12 DIV N (distinct rationals with
    denominators <= 1e6 differ by > 1e-12, so the floor key preserves
    strict order; documented bound: event counts stay < 1e6 at the
    oracle-gate SFs). Upgrades calibration from rows-only MLlib
    evidence (m17_isotonic_calibration) to a bit-exact oracle.

    Plan: one event scan -> 10-bin hash agg; everything after is
    broadcast self-joins over the 10-row frame (10^3 interval
    memberships, then max-of-min) — metadata-sized at any corpus
    scale, the no-unpartitioned-window idiom throughout."""
    ev = t(spark, sf_dir, "events").select(
        F.least(F.lit(9), F.floor(F.col("value") / 50).cast("bigint")).alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    binstats = ev.groupBy("bin").agg(
        F.sum("conv").cast("bigint").alias("s"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    j, k, m = binstats.alias("j"), binstats.alias("k"), binstats.alias("m")
    intervals = (
        j.join(F.broadcast(k), F.col("k.bin") >= F.col("j.bin"))
        .join(
            F.broadcast(m),
            (F.col("m.bin") >= F.col("j.bin")) & (F.col("m.bin") <= F.col("k.bin")),
        )
        .groupBy(F.col("j.bin").alias("jb"), F.col("k.bin").alias("kb"))
        .agg(
            F.expr("CAST(SUM(m.s) * 1000000000000 DIV SUM(m.n) AS BIGINT)").alias("scaled")
        )
    )
    b = binstats.alias("b")
    inner_min = (
        b.join(
            F.broadcast(intervals),
            (F.col("jb") <= F.col("b.bin")) & (F.col("kb") >= F.col("b.bin")),
        )
        .groupBy(F.col("b.bin").alias("bin"), F.col("jb"))
        .agg(F.min("scaled").cast("bigint").alias("min_scaled"))
    )
    iso = inner_min.groupBy("bin").agg(F.max("min_scaled").cast("bigint").alias("iso_scaled"))
    return (
        binstats.join(F.broadcast(iso), "bin")
        .select(
            "bin",
            "n",
            "s",
            F.expr("CAST(s * 1000000 DIV n AS BIGINT)").alias("raw_rate_micro"),
            F.expr("CAST(iso_scaled DIV 1000000 AS BIGINT)").alias("iso_rate_micro"),
            (
                F.expr("CAST(iso_scaled DIV 1000000 AS BIGINT)")
                != F.expr("CAST(s * 1000000 DIV n AS BIGINT)")
            ).alias("pooled"),
        )
        .orderBy("bin")
    )


@register(
    "m53_brier_decomposition",
    """
    WITH binstats AS (
        SELECT LEAST(9, CAST(FLOOR(value / 50) AS BIGINT)) AS bin,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(s) AS BIGINT) AS s_all, CAST(SUM(n) AS BIGINT) AS n_all
        FROM binstats
    )
    SELECT
        CAST((SELECT COUNT(*) FROM binstats) AS BIGINT) AS n_bins,
        t.n_all,
        -- reliability: sum_k n_k (pred_k - obs_k)^2 / N with pred = bin
        -- midpoint rate (bin+0.5)/10 and obs = s_k/n_k; each per-bin
        -- term FLOOR-scaled to integer nano BEFORE the sum (the
        -- standing order-free rule), then one integer division
        CAST(SUM(CAST(FLOOR(1000000000.0 *
            b.n * ((b.bin + 0.5) / 10 - CAST(b.s AS DOUBLE) / b.n)
                * ((b.bin + 0.5) / 10 - CAST(b.s AS DOUBLE) / b.n)) AS BIGINT))
            // t.n_all AS BIGINT) AS reliability_nano,
        -- resolution: sum_k n_k (obs_k - obs)^2 / N, same scaling
        CAST(SUM(CAST(FLOOR(1000000000.0 *
            b.n * (CAST(b.s AS DOUBLE) / b.n - CAST(t.s_all AS DOUBLE) / t.n_all)
                * (CAST(b.s AS DOUBLE) / b.n - CAST(t.s_all AS DOUBLE) / t.n_all))
            AS BIGINT)) // t.n_all AS BIGINT) AS resolution_nano,
        -- uncertainty: obs (1 - obs)
        CAST(FLOOR(1000000000.0 * (CAST(t.s_all AS DOUBLE) / t.n_all)
            * (1 - CAST(t.s_all AS DOUBLE) / t.n_all)) AS BIGINT)
            AS uncertainty_nano
    FROM binstats b CROSS JOIN tot t
    GROUP BY t.s_all, t.n_all
    """,
)
def m53_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score — reliability (how far
    each bin's predicted rate sits from its observed rate), resolution
    (how much bins separate from the base rate), uncertainty (base-rate
    variance); Brier = REL - RES + UNC. Predictions are the m52 score
    bins' midpoints, so m52 (the calibration FIT) and this (the
    calibration DIAGNOSIS) share one binning. Each per-bin term runs
    through one fixed IEEE tree and is FLOOR-scaled to integer nano
    BEFORE summation (the standing order-free rule: float sums are
    summation-order-sensitive, integer sums are not), then one integer
    division by N; the corpus-scale sums (s, n) are exact BIGINTs from
    the start.

    Plan: one scan -> 10-row hash agg -> 1-row broadcast totals;
    metadata after the count at any scale."""
    ev = t(spark, sf_dir, "events").select(
        F.least(F.lit(9), F.floor(F.col("value") / 50).cast("bigint")).alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    binstats = ev.groupBy("bin").agg(
        F.sum("conv").cast("bigint").alias("s"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = binstats.agg(
        F.sum("s").cast("bigint").alias("s_all"), F.sum("n").cast("bigint").alias("n_all")
    )
    obs = "CAST(s AS DOUBLE) / n"
    base = "CAST(s_all AS DOUBLE) / n_all"
    pred = "(bin + 0.5) / 10"
    return (
        binstats.crossJoin(F.broadcast(tot))
        .groupBy("s_all", "n_all")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.expr(
                f"CAST(SUM(CAST(FLOOR(1000000000.0 * n * ({pred} - {obs})"
                f" * ({pred} - {obs})) AS BIGINT)) DIV n_all AS BIGINT)"
            ).alias("reliability_nano"),
            F.expr(
                f"CAST(SUM(CAST(FLOOR(1000000000.0 * n * ({obs} - {base})"
                f" * ({obs} - {base})) AS BIGINT)) DIV n_all AS BIGINT)"
            ).alias("resolution_nano"),
            F.expr(
                f"CAST(FLOOR(1000000000.0 * ({base}) * (1 - {base})) AS BIGINT)"
            ).alias("uncertainty_nano"),
        )
        .select("n_bins", "n_all", "reliability_nano", "resolution_nano", "uncertainty_nano")
    )


# --- M54: Platt scaling (parametric calibration, smoothed targets) -----------

_PLATT_ROUNDS = 3

# FLOOR-micro sigmoid on integer-micro params (a, b) and integer score x
# — the m43 idiom: one fixed IEEE tree both engines, floored to BIGINT
# before any summation so all sufficient statistics are exact.
_PLATT_P = (
    "CAST(FLOOR(1000000 / (1 + EXP(-(CAST(b AS DOUBLE)"
    " + CAST(a AS DOUBLE) * x) / 1000000))) AS BIGINT)"
)


# Newton/IRLS against SMOOTHED micro targets tm instead of hard 0/1
# labels — the actual Platt (1999) detail that distinguishes this from
# a plain logistic fit; the slope a is listed first.
_PLATT_FIT = dict(
    target="tm_micro",
    term=("p", _PLATT_P),
    params=(("a", _NEWTON_D1), ("b", _NEWTON_D0)),
    rounds=_PLATT_ROUNDS,
)


_PLATT_ORACLE = f"""
    WITH scored AS MATERIALIZED (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // 1000000 AS x,
               CASE WHEN o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
                    THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    tgt AS MATERIALIZED (
        SELECT CAST((SUM(y) + 1) * 1000000 // (SUM(y) + 2) AS BIGINT) AS tpos,
               CAST(1000000 // (COUNT(*) - SUM(y) + 2) AS BIGINT) AS tneg,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg
        FROM scored
    ),
    feats AS MATERIALIZED (
        SELECT s.x, CASE WHEN s.y = 1 THEN g.tpos ELSE g.tneg END AS tm_micro
        FROM scored s CROSS JOIN tgt g
    ),
    {_newton_fit_sql(
        weight=_IRLS_W_SQL,
        carry=("(SELECT n_pos FROM tgt) AS n_pos", "(SELECT n_neg FROM tgt) AS n_neg"),
        **_PLATT_FIT,
    )}"""


@register("m54_platt_scaling", _PLATT_ORACLE)
def m54_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M54: Platt scaling — the PARAMETRIC calibrator next to m52's
    nonparametric isotonic fit and m53's Brier diagnosis, completing
    the calibration family: fit sigmoid(a·s + b) to the binary outcome
    over the m34 score domain (order totalprice as the uncalibrated
    score, integer-scaled to 0..55) by three unrolled Newton/IRLS
    rounds. The defining Platt (1999) detail is implemented: targets
    are SMOOTHED to (N+ + 1)/(N+ + 2) and 1/(N- + 2) — computed as
    exact integer micros in a first counting pass and broadcast — so
    the fit never chases 0/1 asymptotes. Numerics are the m43
    contract: per-row sigmoids FLOOR-micro'd before summation (all
    five sufficient statistics exact BIGINT sums, partition-order
    free), the 2x2 Cramer solve one fixed IEEE tree, parameters
    floored back to integer micros each round.

    Plan per round: scan + hash-agg + 1-row broadcast cross-join —
    no driver-side math, no windows; at 100 TB each Newton step is
    one map-side-combined pass over the score column."""

    o = t(spark, sf_dir, "orders").select(
        (F.round(F.col("o_totalprice") * 100).cast("bigint") / F.lit(1000000))
        .cast("bigint")
        .alias("x"),
        F.when(
            F.col("o_orderpriority").like("1-%")
            | F.col("o_orderpriority").like("2-%"),
            1,
        )
        .otherwise(0)
        .alias("y"),
    )
    tgt = o.agg(
        F.expr("CAST((SUM(y) + 1) * 1000000 DIV (SUM(y) + 2) AS BIGINT)").alias("tpos"),
        F.expr("CAST(1000000 DIV (COUNT(*) - SUM(y) + 2) AS BIGINT)").alias("tneg"),
        F.expr("CAST(SUM(y) AS BIGINT)").alias("n_pos"),
        F.expr("CAST(COUNT(*) - SUM(y) AS BIGINT)").alias("n_neg"),
    )
    feats = cache_once(
        o.crossJoin(F.broadcast(tgt)).select(
            "x",
            F.when(F.col("y") == 1, F.col("tpos")).otherwise(F.col("tneg")).alias(
                "tm_micro"
            ),
            "n_pos",
            "n_neg",
        )
    )
    return newton_fit(feats, weight=_IRLS_W, carry=("n_pos", "n_neg"), **_PLATT_FIT)
