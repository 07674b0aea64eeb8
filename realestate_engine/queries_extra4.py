"""Round-9 late-wave operators (new family file per VERDICT r8 #6 —
queries_extra.py and queries_experiments.py sit at the 2,000-LoC
line, so new assorted operators land here).

Contents: Markov transition matrix + stationary distribution (ev26).
Full-oracle, integer-exact under the registry's cross-engine
determinism rules (registry.py module docstring). (An earlier draft
also carried a time-RANGE window frame and a Zipf fit — both already
exist as ts_rolling_interval_window and t19_zipf_fit; dropped as
duplicates before registration.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from realestate_engine.queries_experiments import (
    _SURVIVAL_PER_CTE,
    _SURVIVAL_SUBJ_CTES,
    segment_ztest_ctes,
    segment_ztests,
    survival_census,
)
from realestate_engine.registry import cache_once, register, t

# --- EV26: Markov transition matrix + stationary distribution ----------------

_MARKOV_SCALE = 1_000_000_000_000  # pi kept in 1e12 fixed-point units
_MARKOV_ITER = 3


def _markov_iter_sql(prev: str, out: str) -> str:
    """One unrolled power-iteration step: pi'_dst = sum over src of
    floor(pi_src * P_micro / 1e6) — per-term floor then BIGINT sum,
    order-free (the pagerank contract, graph.py module docstring)."""
    return f"""
    {out} AS (
        SELECT p.dst AS state,
               CAST(SUM(v.pi * p.p_micro // 1000000) AS BIGINT) AS pi
        FROM {prev} v JOIN pmat p ON p.src = v.state
        GROUP BY p.dst
    )"""


_EV26_ORACLE = f"""
    WITH seq AS (
        SELECT event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type AS src, event_type AS dst,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    rowtot AS (
        SELECT src, CAST(SUM(n) AS BIGINT) AS tot FROM trans GROUP BY src
    ),
    pmat AS MATERIALIZED (
        SELECT tr.src, tr.dst, tr.n,
               CAST(tr.n * 1000000 // rt.tot AS BIGINT) AS p_micro
        FROM trans tr JOIN rowtot rt ON rt.src = tr.src
    ),
    states AS (SELECT src AS state FROM rowtot),
    pi0 AS (
        SELECT state,
               CAST({_MARKOV_SCALE} // (SELECT COUNT(*) FROM states) AS BIGINT)
                   AS pi
        FROM states
    ),
    {",".join(_markov_iter_sql(f"pi{i}", f"pi{i + 1}") for i in range(_MARKOV_ITER))}
    SELECT s.state AS event_type,
           rt.tot AS n_out_transitions,
           CAST(COALESCE(
               (SELECT p.p_micro FROM pmat p
                WHERE p.src = s.state AND p.dst = s.state), 0) AS BIGINT)
               AS self_loop_micro,
           CAST(COALESCE(pf.pi, 0) AS BIGINT) AS stationary_pico
    FROM states s
    JOIN rowtot rt ON rt.src = s.state
    LEFT JOIN pi{_MARKOV_ITER} pf ON pf.state = s.state
    ORDER BY event_type
"""


@register("ev26_markov_stationary", _EV26_ORACLE)
def ev26_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV26: user-journey Markov chain — the event-type transition
    matrix estimated from per-user event sequences, plus the
    stationary distribution after 3 (_MARKOV_ITER) fixed-point power
    iterations from uniform. The product-analytics "where does the
    journey settle" readout (and the core of Markov attribution
    models). Emits per state: outgoing-transition count, self-loop
    probability, stationary mass.

    Split of work: the DATA-sized stage is one lag window per user
    (single shuffle on user_id) + one hash agg into the K x K count
    matrix; the ITERATION then runs on the K^2-row matrix — broadcast
    joins, never a corpus rescan (the pagerank posture, except here
    the state fits in one executor because event-type domains are
    small even at 100 TB). Determinism: row-normalized probabilities
    and every pi update are integer fixed-point with per-term floors
    (1e6-unit P, 1e12-unit pi), so the power iteration is bit-exact
    across engines; the oracle unrolls the same 3 steps as CTEs. States are the types with >=1 outgoing transition; mass
    reaching an absorbing tail type simply leaves the system —
    mirrored on both sides."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    seq = ev.select(
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # K x K matrix: tiny from here on — cache the collected-size frames
    trans = trans.localCheckpoint()
    rowtot = trans.groupBy("src").agg(F.sum("n").cast("bigint").alias("tot"))
    pmat = (
        trans.join(F.broadcast(rowtot), "src")
        .select(
            "src",
            "dst",
            "n",
            F.expr("CAST(n * 1000000 DIV tot AS BIGINT)").alias("p_micro"),
        )
        .localCheckpoint()
    )
    states = rowtot.select(F.col("src").alias("state"))
    n_states = states.count()
    pi = states.select(
        "state", F.lit(_MARKOV_SCALE // n_states).cast("bigint").alias("pi")
    )
    for _ in range(_MARKOV_ITER):
        pi = (
            pi.join(F.broadcast(pmat), pi.state == pmat.src)
            .groupBy(F.col("dst").alias("state"))
            .agg(
                F.sum(F.expr("pi * p_micro DIV 1000000")).cast("bigint").alias("pi")
            )
        )
    self_loop = pmat.filter(F.col("src") == F.col("dst")).select(
        F.col("src").alias("state"), F.col("p_micro").alias("self_loop_micro")
    )
    return (
        states.join(F.broadcast(rowtot), states.state == rowtot.src)
        .join(F.broadcast(self_loop), "state", "left")
        .join(F.broadcast(pi.withColumnRenamed("pi", "pi_final")), "state", "left")
        .select(
            F.col("state").alias("event_type"),
            F.col("tot").alias("n_out_transitions"),
            F.coalesce("self_loop_micro", F.lit(0)).cast("bigint").alias("self_loop_micro"),
            F.coalesce("pi_final", F.lit(0)).cast("bigint").alias("stationary_pico"),
        )
        .orderBy("event_type")
    )


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


# --- A52: Goodman-Kruskal gamma (ordinal association) -------------------------

# gamma = (C - D) / (C + D) in micro units, as ONE shared SQL text:
# C/D are exact BIGINT pair counts; the single division runs on
# doubles (correctly rounded, then FLOOR) because the numerator can be
# negative: truncating integer division (both engines truncate toward
# zero — measured, they agree) rounds negatives UP, while the
# registry's micro convention is FLOOR — one shared double text keeps
# the convention without a sign-dependent integer form.
_GAMMA_MICRO = (
    "CAST(CASE WHEN c_pairs + d_pairs = 0 THEN 0 ELSE"
    " FLOOR(CAST(c_pairs - d_pairs AS DOUBLE)"
    " / CAST(c_pairs + d_pairs AS DOUBLE) * 1000000) END AS BIGINT)"
)

_A52_ORACLE = f"""
    WITH per_cust AS (
        SELECT o_custkey AS ck,
               LEAST(COUNT(*), 10) AS x,
               SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS spend
        FROM orders GROUP BY 1
    ),
    cuts AS (
        SELECT quantile_cont(spend,
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        FROM per_cust
    ),
    labeled AS (
        SELECT r.r_name, p.x,
               1 + LEN(LIST_FILTER(cuts.qs, q -> q < p.spend)) AS dec
        FROM per_cust p
        JOIN customer c ON c.c_custkey = p.ck
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey, cuts
    ),
    cells AS (
        SELECT r_name, x, dec, CAST(COUNT(*) AS BIGINT) AS f
        FROM labeled GROUP BY 1, 2, 3
    ),
    pairs AS (
        SELECT a.r_name,
               CAST(SUM(CASE WHEN b.dec > a.dec THEN a.f * b.f ELSE 0 END)
                    AS BIGINT) AS c_pairs,
               CAST(SUM(CASE WHEN b.dec < a.dec THEN a.f * b.f ELSE 0 END)
                    AS BIGINT) AS d_pairs
        FROM cells a JOIN cells b
          ON b.r_name = a.r_name AND b.x > a.x
        GROUP BY a.r_name
    ),
    tots AS (
        SELECT r_name, CAST(SUM(f) AS BIGINT) AS n_customers
        FROM cells GROUP BY r_name
    )
    SELECT t.r_name AS region, t.n_customers,
           COALESCE(p.c_pairs, 0) AS c_pairs,
           COALESCE(p.d_pairs, 0) AS d_pairs,
           {_GAMMA_MICRO.replace("c_pairs", "COALESCE(p.c_pairs, 0)")
                        .replace("d_pairs", "COALESCE(p.d_pairs, 0)")}
               AS gamma_micro
    FROM tots t LEFT JOIN pairs p ON p.r_name = t.r_name
    ORDER BY region
"""


@register("a52_goodman_kruskal_gamma", _A52_ORACLE)
def a52_goodman_kruskal_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A52: Goodman-Kruskal gamma — ordinal association between order
    FREQUENCY (order count, capped at 10) and spend TIER (global exact
    spend deciles) per region: the contingency-table rank statistic for
    ordered categories (gamma = (C-D)/(C+D) over concordant/discordant
    pairs, ties dropped). Completes the association family next to a8
    Pearson (linear), a51 Spearman (continuous ranks), a28 chi-square
    (nominal). THE SCALE POINT: naive Kendall-style pair counting is
    O(n^2) per group; gamma aggregates FIRST into the <=10x10
    (frequency, decile) contingency table per region, then counts pair
    mass cell-by-cell — the quadratic runs over <=100 cells, never over
    customers, so the plan is one orders-sized groupBy + a 1-row decile
    broadcast + a broadcast non-equi self-join of a ~500-row cell
    ledger. All pair counts are exact BIGINT products of counts; the
    one division runs on doubles via the shared _GAMMA_MICRO text
    (negative numerators: FLOOR semantics, not the round-toward-zero
    of integer division). Decile cuts are a23/m29's exact interpolated
    percentiles."""
    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.least(F.count(F.lit(1)), F.lit(10)).alias("x"),
        F.sum("cents").alias("spend"),
    )
    cuts = per_cust.agg(
        F.percentile("spend", F.array(*[F.lit(v / 10.0) for v in range(1, 10)])).alias("qs")
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    labeled = (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .crossJoin(F.broadcast(cuts))
        .select(
            "r_name",
            "x",
            (1 + F.size(F.filter(F.col("qs"), lambda q: q < F.col("spend")))).alias("dec"),
        )
    )
    cells = labeled.groupBy("r_name", "x", "dec").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    b = cells.select(
        F.col("r_name").alias("b_r"), F.col("x").alias("b_x"),
        F.col("dec").alias("b_dec"), F.col("f").alias("b_f"),
    )
    pairs = (
        cells.join(
            F.broadcast(b),
            (F.col("b_r") == F.col("r_name")) & (F.col("b_x") > F.col("x")),
        )
        .groupBy("r_name")
        .agg(
            F.sum(F.when(F.col("b_dec") > F.col("dec"), F.col("f") * F.col("b_f")).otherwise(0))
            .cast("bigint").alias("c_pairs"),
            F.sum(F.when(F.col("b_dec") < F.col("dec"), F.col("f") * F.col("b_f")).otherwise(0))
            .cast("bigint").alias("d_pairs"),
        )
    )
    tots = cells.groupBy("r_name").agg(F.sum("f").cast("bigint").alias("n_customers"))
    return (
        tots.join(F.broadcast(pairs), "r_name", "left")
        .select(
            F.col("r_name").alias("region"),
            "n_customers",
            F.coalesce("c_pairs", F.lit(0)).alias("c_pairs"),
            F.coalesce("d_pairs", F.lit(0)).alias("d_pairs"),
        )
        .select(
            "region", "n_customers", "c_pairs", "d_pairs",
            F.expr(_GAMMA_MICRO).alias("gamma_micro"),
        )
        .orderBy("region")
    )


# --- EV27: log-rank test (two-group survival comparison) ----------------------

# Per-event-time variance term of the log-rank statistic in micro
# units, ONE shared SQL text: every factor is an exact BIGINT product
# kept under 2^63 (n1*n2 and n*n cap at ~(n/2)^2 and n^2; d*(n-d) at
# n^2/4), the chain then runs on doubles (each step IEEE
# correctly-rounded) and FLOORs — the all-integer form
# n1*n2*d*(n-d)*1e6 would overflow BIGINT past ~30k subjects.
_LOGRANK_V_MICRO = (
    "CAST(FLOOR(CAST(n1r * n2r AS DOUBLE) / CAST(nr * nr AS DOUBLE)"
    " * CAST(da * (nr - da) AS DOUBLE) / CAST(nr - 1 AS DOUBLE)"
    " * 1000000) AS BIGINT)"
)

# chi^2 = (O1 - E1)^2 / V with O1,E1,V carried in micro units:
# (o1*1e6 - e1_micro)^2 / v_micro is already in micro chi^2 units; the
# square runs on doubles (its integer form crosses 2^63 past ~3k
# events).
_LOGRANK_CHI2_MICRO = (
    "CAST(CASE WHEN v_micro = 0 THEN 0 ELSE"
    " FLOOR(CAST(o1 * 1000000 - e1_micro AS DOUBLE)"
    " * CAST(o1 * 1000000 - e1_micro AS DOUBLE)"
    " / CAST(v_micro AS DOUBLE)) END AS BIGINT)"
)

_EV27_ORACLE = _SURVIVAL_SUBJ_CTES + _SURVIVAL_PER_CTE + f""",
    at_risk AS (
        SELECT a.dur, a.d_all AS da, a.d_g1,
               CAST(SUM(b.n_g1) AS BIGINT) AS n1r,
               CAST(SUM(b.n - b.n_g1) AS BIGINT) AS n2r,
               CAST(SUM(b.n) AS BIGINT) AS nr
        FROM per a JOIN per b ON b.dur >= a.dur
        GROUP BY a.dur, a.d_all, a.d_g1
    ),
    terms AS (
        SELECT d_g1, da,
               CAST(da * n1r * 1000000 // nr AS BIGINT) AS e1t_micro,
               CASE WHEN nr > 1 THEN {_LOGRANK_V_MICRO}
                    ELSE CAST(0 AS BIGINT) END AS vt_micro
        FROM at_risk WHERE da > 0
    ),
    tot AS (
        SELECT CAST(SUM(d_g1) AS BIGINT) AS o1,
               CAST(SUM(da) AS BIGINT) AS events_total,
               CAST(SUM(e1t_micro) AS BIGINT) AS e1_micro,
               CAST(SUM(vt_micro) AS BIGINT) AS v_micro
        FROM terms
    ),
    sizes AS (
        SELECT CAST(SUM(n_g1) AS BIGINT) AS n1_subjects,
               CAST(SUM(n - n_g1) AS BIGINT) AS n2_subjects
        FROM per
    )
    SELECT s.n1_subjects, s.n2_subjects, t.events_total, t.o1,
           t.e1_micro, t.v_micro,
           {_LOGRANK_CHI2_MICRO} AS logrank_chi2_micro,
           CAST(3841459 AS BIGINT) AS chi2_crit_micro,
           CAST(CASE WHEN v_micro > 0 AND {_LOGRANK_CHI2_MICRO} > 3841459
                THEN 1 ELSE 0 END AS BIGINT) AS reject_h0
    FROM tot t, sizes s
"""


@register("ev27_logrank_test", _EV27_ORACLE)
def ev27_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV27: log-rank test — the HYPOTHESIS TEST companion to ev13's
    Kaplan-Meier curve (and m24's AFT fit): do high-priority orders
    (URGENT/HIGH) ship on a different survival curve than the rest?
    At each event time the observed group-1 events are compared to the
    hypergeometric expectation E1_t = d_t*n1_t/n_t with variance
    V_t = (n1 n2 / n^2) * d(n-d)/(n-1); chi^2 = (O1-E1)^2/V vs the
    df=1 95% critical value, over survival_census. Exactness: every
    per-time term is floored to micro BEFORE
    the (order-free) integer sum, and the two overflow-prone squares
    run on doubles via shared SQL texts (_LOGRANK_V_MICRO /
    _LOGRANK_CHI2_MICRO — the integer forms cross 2^63 at ~30k
    subjects / ~3k events). One scan, two tiny-frame joins, 1-row
    output."""
    per = survival_census(spark, sf_dir)
    a, b = per.alias("a"), per.alias("b")
    at_risk = (
        a.join(F.broadcast(b), F.col("b.dur") >= F.col("a.dur"))
        .groupBy(
            F.col("a.dur").alias("dur"),
            F.col("a.d_all").alias("da"),
            F.col("a.d_g1").alias("d_g1"),
        )
        .agg(
            F.sum("b.n_g1").cast("bigint").alias("n1r"),
            F.sum(F.col("b.n") - F.col("b.n_g1")).cast("bigint").alias("n2r"),
            F.sum("b.n").cast("bigint").alias("nr"),
        )
    )
    terms = at_risk.where(F.col("da") > 0).select(
        "d_g1",
        "da",
        F.expr("CAST(da * n1r * 1000000 DIV nr AS BIGINT)").alias("e1t_micro"),
        F.when(F.col("nr") > 1, F.expr(_LOGRANK_V_MICRO))
        .otherwise(F.lit(0).cast("long"))
        .alias("vt_micro"),
    )
    tot = terms.agg(
        F.sum("d_g1").cast("bigint").alias("o1"),
        F.sum("da").cast("bigint").alias("events_total"),
        F.sum("e1t_micro").cast("bigint").alias("e1_micro"),
        F.sum("vt_micro").cast("bigint").alias("v_micro"),
    )
    sizes = per.agg(
        F.sum("n_g1").cast("bigint").alias("n1_subjects"),
        F.sum(F.col("n") - F.col("n_g1")).cast("bigint").alias("n2_subjects"),
    )
    return tot.crossJoin(F.broadcast(sizes)).select(
        "n1_subjects",
        "n2_subjects",
        "events_total",
        "o1",
        "e1_micro",
        "v_micro",
        F.expr(_LOGRANK_CHI2_MICRO).alias("logrank_chi2_micro"),
        F.lit(3841459).cast("bigint").alias("chi2_crit_micro"),
        F.expr(
            f"CAST(CASE WHEN v_micro > 0 AND {_LOGRANK_CHI2_MICRO} > 3841459"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_h0"),
    )


# --- A53: mutual information (discrete, exact-margin census) ------------------

# Per-cell MI contribution in micro-nats, ONE shared SQL text: counts
# are exact BIGINT; LN of the rational n_ij*N/(n_i*n_j) is one IEEE op
# (the ev13/t28 precedent), scaled/divided/FLOORed in a fixed chain so
# the per-cell integer is bit-reproducible and the total MI is an
# order-free BIGINT sum of the column.
#
# Platform caveat (the ts14 cos/sin argument applies to LN too):
# java.lang.Math.log is 1-ulp accurate, not correctly rounded, so
# JVM-vs-libm bit-equality of the LN is EMPIRICAL — certified on this
# host at all three SFs, but a boundary cell could flip the FLOOR on
# another JDK/libc. Both engines do take LN of the identical double
# (the rational is formed from exact BIGINTs in the same order), which
# confines any divergence to the 1-ulp FLOOR boundary.
_MI_TERM = (
    "CAST(FLOOR(CAST(n_ij AS DOUBLE)"
    " * LN(CAST(n_ij AS DOUBLE) * CAST(n_all AS DOUBLE)"
    " / (CAST(n_i AS DOUBLE) * CAST(n_j AS DOUBLE)))"
    " / CAST(n_all AS DOUBLE) * 1000000) AS BIGINT)"
)

_A53_ORACLE = f"""
    WITH base AS (
        SELECT o_orderpriority AS pr,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    cuts AS (
        SELECT quantile_cont(cents,
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        FROM base
    ),
    labeled AS (
        SELECT pr, 1 + LEN(LIST_FILTER(cuts.qs, q -> q < base.cents)) AS dec
        FROM base, cuts
    ),
    cells AS (
        SELECT pr, dec, CAST(COUNT(*) AS BIGINT) AS n_ij
        FROM labeled GROUP BY 1, 2
    ),
    mi AS (SELECT pr, CAST(SUM(n_ij) AS BIGINT) AS n_i FROM cells GROUP BY pr),
    mj AS (SELECT dec, CAST(SUM(n_ij) AS BIGINT) AS n_j FROM cells GROUP BY dec),
    nall AS (SELECT CAST(SUM(n_ij) AS BIGINT) AS n_all FROM cells)
    SELECT c.pr AS priority,
           CAST(c.dec AS BIGINT) AS decile,
           c.n_ij, mi.n_i, mj.n_j,
           {_MI_TERM} AS mi_term_micronat
    FROM cells c
    JOIN mi ON mi.pr = c.pr
    JOIN mj ON mj.dec = c.dec
    CROSS JOIN nall
    ORDER BY priority, decile
"""


@register("a53_mutual_information", _A53_ORACLE)
def a53_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A53: discrete mutual information between order PRIORITY and
    spend DECILE — the model-free dependence measure completing the
    association family (a8 Pearson: linear; a51 Spearman: monotone;
    a52 gamma: ordinal; a28 chi-square: tests independence but does
    not QUANTIFY shared information). Emits the full 5x10 cell table
    with margins and per-cell contribution n_ij/N * ln(n_ij*N/(n_i*n_j))
    in micro-nats; total MI = the order-free BIGINT sum of the column
    (negative cells are real — pointwise MI is signed; only the total
    is non-negative, pinned in tests up to per-cell floor slack).
    Scale shape: one orders-sized scan collapses to <=50 cells (the
    a52 aggregate-first posture), margins and N are tiny-frame
    re-aggregations of the CELLS (never a second scan), and the one
    transcendental runs on already-exact integers via the shared
    _MI_TERM text."""
    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pr"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cuts = base.agg(
        F.percentile("cents", F.array(*[F.lit(v / 10.0) for v in range(1, 10)])).alias("qs")
    )
    labeled = base.crossJoin(F.broadcast(cuts)).select(
        "pr",
        (1 + F.size(F.filter(F.col("qs"), lambda q: q < F.col("cents")))).alias("dec"),
    )
    cells = labeled.groupBy("pr", "dec").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ij")
    )
    mi = cells.groupBy("pr").agg(F.sum("n_ij").cast("bigint").alias("n_i"))
    mj = cells.groupBy("dec").agg(F.sum("n_ij").cast("bigint").alias("n_j"))
    nall = cells.agg(F.sum("n_ij").cast("bigint").alias("n_all"))
    return (
        cells.join(F.broadcast(mi), "pr")
        .join(F.broadcast(mj), "dec")
        .crossJoin(F.broadcast(nall))
        .select(
            F.col("pr").alias("priority"),
            F.col("dec").cast("bigint").alias("decile"),
            "n_ij",
            "n_i",
            "n_j",
            F.expr(_MI_TERM).alias("mi_term_micronat"),
        )
        .orderBy("priority", "decile")
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
    from realestate_engine.ordered import distributed_prefix_sum

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


# --- EV28: regression discontinuity (local linear, closed form) ----------------

# OLS intercept at the cutoff (x = 0) from integer moments, ONE shared
# SQL text per side: slope = (n*sxy - sx*sy)/(n*sxx - sx*sx),
# intercept = (sy - slope*sx)/n — the m26 normal-equations posture,
# evaluated in doubles because the numerators are signed (the micro
# convention FLOORs; integer division would round negatives toward
# zero) and n*sxx crosses 2^63 once |x| reaches ~1e6 dollars at 1e6
# in-bandwidth rows.
def _ols_at_zero(pfx: str) -> dict[str, str]:
    slope = (
        f"((CAST({pfx}n AS DOUBLE) * CAST({pfx}sxy AS DOUBLE)"
        f" - CAST({pfx}sx AS DOUBLE) * CAST({pfx}sy AS DOUBLE))"
        f" / (CAST({pfx}n AS DOUBLE) * CAST({pfx}sxx AS DOUBLE)"
        f" - CAST({pfx}sx AS DOUBLE) * CAST({pfx}sx AS DOUBLE)))"
    )
    intercept = (
        f"((CAST({pfx}sy AS DOUBLE) - {slope} * CAST({pfx}sx AS DOUBLE))"
        f" / CAST({pfx}n AS DOUBLE))"
    )
    return {
        "slope_micro": f"CAST(FLOOR({slope} * 1000000) AS BIGINT)",
        "icept_micro": f"CAST(FLOOR({intercept} * 1000000) AS BIGINT)",
        "icept": intercept,
    }


_EV28_EFFECT = (
    "CAST(FLOOR(("
    + _ols_at_zero("r_")["icept"]
    + " - "
    + _ols_at_zero("l_")["icept"]
    + ") * 1000000) AS BIGINT)"
)

_EV28_ORACLE = f"""
    WITH base AS (
        SELECT o.o_orderkey,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    cut AS (
        SELECT CAST(FLOOR(quantile_cont(cents, 0.5)) AS BIGINT) AS c,
               CAST(FLOOR((quantile_cont(cents, 0.75)
                           - quantile_cont(cents, 0.25)) / 2) AS BIGINT) AS h
        FROM base
    ),
    win AS (
        SELECT (b.cents - cut.c) // 100 AS x, b.y,
               CASE WHEN b.cents >= cut.c THEN 1 ELSE 0 END AS side,
               cut.c, cut.h
        FROM base b, cut
        WHERE ABS(b.cents - cut.c) <= cut.h
    ),
    moms AS (
        SELECT ANY_VALUE(c) AS cutoff_cents, ANY_VALUE(h) AS bandwidth_cents,
               CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS l_n,
               CAST(SUM(CASE WHEN side = 0 THEN x ELSE 0 END) AS BIGINT) AS l_sx,
               CAST(SUM(CASE WHEN side = 0 THEN y ELSE 0 END) AS BIGINT) AS l_sy,
               CAST(SUM(CASE WHEN side = 0 THEN x * x ELSE 0 END) AS BIGINT) AS l_sxx,
               CAST(SUM(CASE WHEN side = 0 THEN x * y ELSE 0 END) AS BIGINT) AS l_sxy,
               CAST(SUM(side) AS BIGINT) AS r_n,
               CAST(SUM(CASE WHEN side = 1 THEN x ELSE 0 END) AS BIGINT) AS r_sx,
               CAST(SUM(CASE WHEN side = 1 THEN y ELSE 0 END) AS BIGINT) AS r_sy,
               CAST(SUM(CASE WHEN side = 1 THEN x * x ELSE 0 END) AS BIGINT) AS r_sxx,
               CAST(SUM(CASE WHEN side = 1 THEN x * y ELSE 0 END) AS BIGINT) AS r_sxy
        FROM win
    )
    SELECT cutoff_cents, bandwidth_cents, l_n AS n_left, r_n AS n_right,
           {_ols_at_zero("l_")["slope_micro"]} AS slope_left_micro,
           {_ols_at_zero("r_")["slope_micro"]} AS slope_right_micro,
           {_ols_at_zero("l_")["icept_micro"]} AS intercept_left_micro,
           {_ols_at_zero("r_")["icept_micro"]} AS intercept_right_micro,
           {_EV28_EFFECT} AS rdd_effect_micro
    FROM moms
"""


@register("ev28_regression_discontinuity", _EV28_ORACLE)
def ev28_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV28: sharp regression discontinuity — the causal-inference
    design the experiment family lacked (ev12 DiD needs panel data,
    ev16 matching needs overlap; RDD identifies a LOCAL effect at a
    deterministic assignment cutoff). Study framing: does crossing the
    median order value change basket size? Running variable = order
    cents centered at the median cutoff (rescaled to dollars so the
    n*sxx moment stays under 2^63 — the documented bound), outcome =
    lineitem count, bandwidth = half the IQR; LOCAL LINEAR fits on
    each side via the m26 closed-form normal equations on exact BIGINT
    moments; effect = right-intercept minus left-intercept at the
    cutoff. On TPC-H-ish uniform data the true effect is ~0 — the op
    is the measurement instrument, and the replay test pins the whole
    moment set plus a near-zero band. One scan + one 1-row quantile
    broadcast + ONE map-side moment aggregate: nothing here exceeds
    the flagship's plan complexity at any scale. The final
    slope/intercept chains are shared double texts (signed
    numerators: the registry FLOORs; integer division would round
    negatives toward zero)."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey")
    # r15 (guide §5, VERDICT r14 #5): cache the per-order base — it is
    # consumed TWICE (the quantile cutoff aggregate below and the
    # in-bandwidth moment pass), and without the cache each consumer
    # replays the full lineitem⋈orders join + groupBy.
    base = cache_once(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    # r14: one shared percentile state for all three quartiles (the
    # a20/a23 array form) instead of three separate exact-percentile
    # aggregates each holding its own value->count map; identical
    # interpolated doubles feed the same floor exprs.
    qs = base.agg(
        F.percentile("cents", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("_qs")
    )
    cut = qs.select(
        F.floor(F.col("_qs")[1]).cast("bigint").alias("c"),
        F.floor((F.col("_qs")[2] - F.col("_qs")[0]) / 2).cast("bigint").alias("h"),
    )
    win = (
        base.crossJoin(F.broadcast(cut))
        .where(F.abs(F.col("cents") - F.col("c")) <= F.col("h"))
        .select(
            F.expr("(cents - c) DIV 100").alias("x"),
            "y",
            F.when(F.col("cents") >= F.col("c"), 1).otherwise(0).alias("side"),
            "c",
            "h",
        )
    )
    side0 = F.col("side") == 0
    moms = win.agg(
        F.expr("any_value(c)").alias("cutoff_cents"),
        F.expr("any_value(h)").alias("bandwidth_cents"),
        F.sum(F.when(side0, 1).otherwise(0)).cast("bigint").alias("l_n"),
        F.sum(F.when(side0, F.col("x")).otherwise(0)).cast("bigint").alias("l_sx"),
        F.sum(F.when(side0, F.col("y")).otherwise(0)).cast("bigint").alias("l_sy"),
        F.sum(F.when(side0, F.col("x") * F.col("x")).otherwise(0)).cast("bigint").alias("l_sxx"),
        F.sum(F.when(side0, F.col("x") * F.col("y")).otherwise(0)).cast("bigint").alias("l_sxy"),
        F.sum("side").cast("bigint").alias("r_n"),
        F.sum(F.when(~side0, F.col("x")).otherwise(0)).cast("bigint").alias("r_sx"),
        F.sum(F.when(~side0, F.col("y")).otherwise(0)).cast("bigint").alias("r_sy"),
        F.sum(F.when(~side0, F.col("x") * F.col("x")).otherwise(0)).cast("bigint").alias("r_sxx"),
        F.sum(F.when(~side0, F.col("x") * F.col("y")).otherwise(0)).cast("bigint").alias("r_sxy"),
    )
    return moms.select(
        "cutoff_cents",
        "bandwidth_cents",
        F.col("l_n").alias("n_left"),
        F.col("r_n").alias("n_right"),
        F.expr(_ols_at_zero("l_")["slope_micro"]).alias("slope_left_micro"),
        F.expr(_ols_at_zero("r_")["slope_micro"]).alias("slope_right_micro"),
        F.expr(_ols_at_zero("l_")["icept_micro"]).alias("intercept_left_micro"),
        F.expr(_ols_at_zero("r_")["icept_micro"]).alias("intercept_right_micro"),
        F.expr(_EV28_EFFECT).alias("rdd_effect_micro"),
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


# --- EV29: Benjamini-Hochberg FDR step-up --------------------------------------

from statistics import NormalDist as _ND

_BH_M = 5
# BH critical z^2 ladder: reject rank i (z^2 DESCENDING) iff
# z^2_(i) >= chi2_inv(1 - 0.05*i/m, 1); two-sided p = 2(1 - Phi(z)),
# so the threshold is inv_cdf(1 - 0.025*i/m)^2, stdlib-computed once
# (segment_ztests embeds it as identical literals on both sides).
_BH_CRIT2_MICRO = [
    int(_ND().inv_cdf(1 - 0.025 * i / _BH_M) ** 2 * 1_000_000)
    for i in range(1, _BH_M + 1)
]  # index i-1 = critical z^2 (micro) at rank i


_EV29_ORACLE = segment_ztest_ctes(_BH_M, _BH_CRIT2_MICRO) + """
    SELECT a.seg, a.n_total, a.z2_micro, a.rank,
           a.pass_own AS rejected_raw,
           MAX(CASE WHEN b.pass_own THEN 1 ELSE 0 END) = 1 AS rejected_bh
    FROM tested a JOIN tested b ON b.rank >= a.rank
    GROUP BY a.seg, a.n_total, a.z2_micro, a.rank, a.pass_own
    ORDER BY a.rank
"""


@register("ev29_benjamini_hochberg", _EV29_ORACLE)
def ev29_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV29: Benjamini-Hochberg FDR step-up across the same m = 5
    conversion z-tests as ev23 — the OTHER canonical multiple-testing
    procedure, and structurally its dual: Holm walks DOWN from the most
    significant test and stops at the first failure (prefix-AND,
    controls FWER), BH walks UP from the least significant and rejects
    EVERYTHING at or above the largest passing rank (suffix-OR,
    controls FDR — strictly more powerful, the industry default for
    many-metric dashboards). Both read segment_ztests; only the
    ladder (1 - 0.025*i/m quantiles, DECREASING with rank) and the
    suffix-OR join direction differ — which is exactly the point: the
    registry now demonstrates both corrections on identical inputs, so
    their decisions can disagree visibly on the same data. Metadata
    after one segment-keyed count; 5-row frames throughout."""
    tested = segment_ztests(spark, sf_dir, _BH_M, _BH_CRIT2_MICRO)
    ta, tb = tested.alias("ta"), tested.alias("tb")
    return (
        ta.join(F.broadcast(tb), F.col("tb.rank") >= F.col("ta.rank"))
        .groupBy("ta.seg", "ta.n_total", "ta.z2_micro", "ta.rank", "ta.pass_own")
        .agg(F.max(F.col("tb.pass_own")).alias("rejected_bh"))
        .select(
            F.col("seg"), F.col("n_total"), F.col("z2_micro"), F.col("rank"),
            F.col("pass_own").alias("rejected_raw"),
            F.col("rejected_bh"),
        )
        .orderBy("rank")
    )
