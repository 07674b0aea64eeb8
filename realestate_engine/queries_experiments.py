"""Experimentation / causal-inference operators, the ``ev*`` queries:
funnels, cohort retention, attribution (rule-based and exact Shapley),
transition matrices and Markov stationary shares, late-arrival audits,
RFM, Pareto and Gini concentration, diff-in-diff, regression
discontinuity, Kaplan-Meier, log-rank and Cox survival, uplift Qini,
propensity matching, CUPED, empirical-Bayes shrinkage,
Benjamini-Hochberg, and Fellegi-Sunter record linkage.

Engine-portable integer idioms throughout (md5-prefix hashes, integer
cents, FLOOR-scaled micros) so every value hash-compares vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from realestate_engine.dedup import portable_hash32
from realestate_engine.ordered import distributed_prefix_sum
from realestate_engine.registry import cache_once, register, t


@register(
    "ev_funnel_conversion",
    """
    WITH v AS (
        SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_viewed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_clicked,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchased,
           (SELECT CAST(COUNT(*) AS DOUBLE) FROM c) / (SELECT COUNT(*) FROM v) AS view_to_click,
           (SELECT CAST(COUNT(*) AS DOUBLE) FROM p) / (SELECT COUNT(*) FROM c) AS click_to_purchase
    """,
)
def ev_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: users who viewed, then clicked strictly
    AFTER their first view, then purchased strictly AFTER that first
    click — the product-analytics conversion funnel with event-order
    semantics (not mere type membership). Each stage is a conditional
    min-aggregate keyed on user_id joined to the prior stage; all three
    shuffles share the user_id key so the exchange is reused across
    stages. Rates are int/int divisions — bit-identical cross-engine."""
    ev = t(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("vt"))
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("vt"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ct"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("ct"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    nv = v.agg(F.count(F.lit(1)).cast("bigint").alias("n_viewed"))
    nc = c.agg(F.count(F.lit(1)).cast("bigint").alias("n_clicked"))
    np_ = p.agg(F.count(F.lit(1)).cast("bigint").alias("n_purchased"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_viewed",
            "n_clicked",
            "n_purchased",
            (F.col("n_clicked").cast("double") / F.col("n_viewed")).alias("view_to_click"),
            (F.col("n_purchased").cast("double") / F.col("n_clicked")).alias("click_to_purchase"),
        )
    )


@register(
    "ev_cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, CAST(DATE_TRUNC('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               DATE_DIFF('day', f.cohort_week, CAST(DATE_TRUNC('week', e.ts) AS DATE)) // 7
                   AS weeks_since
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    ),
    sizes AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM firsts GROUP BY cohort_week)
    SELECT a.cohort_week AS cohort_week,
           CAST(a.weeks_since AS BIGINT) AS weeks_since,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(s.cohort_size) AS retention_rate
    FROM activity a JOIN sizes s ON a.cohort_week = s.cohort_week
    GROUP BY a.cohort_week, a.weeks_since
    ORDER BY a.cohort_week, a.weeks_since
    """,
)
def ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week
    (weekly cohorts — the testdata spans one month), tracked by
    weeks-since-cohort activity, normalized by cohort size — THE
    lifecycle analytics query. Shape: first-event agg (user key),
    distinct (user, week) activity join, cohort-size broadcast join,
    final rollup. weeks_since is day-difference // 7 of week-truncated
    DATEs — exact integers on both engines."""
    ev = t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(F.date_trunc("week", F.col("ts")).cast("date"), F.col("cohort_week")) / 7
            )
            .cast("bigint")
            .alias("weeks_since"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        activity.join(F.broadcast(sizes), "cohort_week")
        .groupBy("cohort_week", "weeks_since")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active"),
            (F.count(F.lit(1)).cast("double") / F.any_value(F.col("cohort_size"))).alias(
                "retention_rate"
            ),
        )
        # timestamp, not date, on the output: DateType reaches pandas
        # as object while the oracle's DATE fetches as datetime64 (the
        # f10_monthly_revenue idiom keeps both in the datetime family)
        .select(
            F.col("cohort_week").cast("timestamp").alias("cohort_week"),
            "weeks_since",
            "n_active",
            "retention_rate",
        )
        .orderBy("cohort_week", "weeks_since")
    )


@register(
    "ev3_attribution",
    """
    WITH purchases AS (
        SELECT event_id AS purchase_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    touches AS (
        SELECT p.purchase_id, c.click_id, c.ts AS click_ts
        FROM purchases p
        JOIN clicks c ON c.user_id = p.user_id
                     AND c.ts < p.ts
                     AND c.ts >= p.ts - INTERVAL 1 HOUR
    )
    SELECT purchase_id, click_id,
           CAST(10000 // COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS credit_bp,
           click_ts = MIN(click_ts) OVER (PARTITION BY purchase_id) AS is_first,
           click_ts = MAX(click_ts) OVER (PARTITION BY purchase_id) AS is_last
    FROM touches
    ORDER BY purchase_id, click_id
    """,
)
def ev3_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV3: multi-touch attribution — split each purchase's credit
    across the clicks in its trailing 1-hour window (linear model, with
    first/last-touch flags for the position models). The click-purchase
    pairing is an equi-join on the user key with a time-range residual
    — hash-partitioned by user, never a cross join — and the credit
    split 10000 div n is exact integer basis points (a 1/n double would
    be summable but not hash-comparable). Window counts per purchase
    ride the same partitioning."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window

    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    touches = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") < F.col("p_ts"))
        & (F.col("click_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    w = Window.partitionBy("purchase_id")
    return (
        touches.select(
            "purchase_id",
            "click_id",
            F.expr("10000 div count(*) over (partition by purchase_id)").cast("bigint").alias("credit_bp"),
            (F.col("click_ts") == F.min("click_ts").over(w)).alias("is_first"),
            (F.col("click_ts") == F.max("click_ts").over(w)).alias("is_last"),
        )
        .orderBy("purchase_id", "click_id")
    )


@register(
    "ev4_transition_matrix",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    ORDER BY prev_type, event_type
    """,
)
def ev4_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV4: first-order behavior transition matrix — counts of
    consecutive (prev event -> event) pairs per user timeline, the
    Markov-chain sufficient statistic behind next-action prediction,
    funnel leak diagnosis, and bot detection (improbable transition
    signatures). One window pass partitioned by user (ordered by ts
    with the event id as total-order tiebreak — deterministic under
    timestamp collisions), one hash agg. State per user is O(1); the
    shuffle is keyed by user then by type pair — both well-spread at
    100 TB."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "event_type", F.lag("event_type").over(w).alias("prev_type"))
    return (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("prev_type", "event_type")
    )


@register(
    "ev5_late_arrival_audit",
    """
    WITH ordered AS (
        SELECT user_id, event_id, ts,
               MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_seen
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN ts < max_seen - INTERVAL 30 MINUTE THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late
    FROM ordered
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def ev5_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV5: late-arrival audit — how out-of-order is the stream,
    really? Per user (arrival order = event_id), an event is late if
    its event time sits >30min behind the max event time already seen.
    This is the measurement that justifies a watermark choice: the
    n_late distribution IS the data loss you'd eat at that bound.
    One window pass + one agg, integer counts."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ordered = ev.select(
        "user_id",
        "ts",
        F.max("ts").over(w).alias("max_seen"),
    )
    return (
        ordered.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(
                F.when(F.col("ts") < F.col("max_seen") - F.expr("INTERVAL 30 MINUTE"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_late"),
        )
        .orderBy("user_id")
    )


@register(
    "ev6_session_funnel",
    """
    WITH ordered AS (
        SELECT user_id, event_id, event_type, ts,
               CASE WHEN EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800 * 1000000
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events
    ),
    sess AS (
        SELECT user_id, event_id, event_type, ts,
               SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
        FROM ordered
    ),
    per_session AS (
        SELECT user_id, session_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        FROM sess GROUP BY user_id, session_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
           CAST(SUM(CASE WHEN first_view IS NOT NULL AND first_click > first_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(SUM(CASE WHEN first_view IS NOT NULL AND first_click > first_view
                          AND first_purchase > first_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
    FROM per_session
    """,
)
def ev6_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV6: within-session funnel — the composite product-analytics
    pipeline: gap-sessionize (30-min inactivity, running-sum session
    ids — the ts_sessionize_gap pattern) then require the strict
    view -> click -> purchase ORDER inside each session (stage-ordered
    conditional min-timestamps — the ev_funnel_conversion pattern,
    scoped per session instead of per user-lifetime). Two window
    passes over the same user partitioning + one agg; NULL-safe
    ordering because `first_click > first_view` is NULL when either
    stage is missing. Exact integer counts."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w)))
                > 1800 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new_session"),
    )
    sess = ordered.select(
        "user_id",
        "event_type",
        "ts",
        F.sum("is_new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_id"),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    return per_session.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.when(F.col("first_view").isNotNull(), 1).otherwise(0)).cast("bigint").alias("n_viewed"),
        F.sum(
            F.when(F.col("first_view").isNotNull() & (F.col("first_click") > F.col("first_view")), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_view_click"),
        F.sum(
            F.when(
                F.col("first_view").isNotNull()
                & (F.col("first_click") > F.col("first_view"))
                & (F.col("first_purchase") > F.col("first_click")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_full_funnel"),
    )


@register(
    "ev12_diff_in_diff",
    """
    WITH cells AS (
        SELECT CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS exposed,
               CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS post,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    m AS (
        SELECT exposed, post,
               SUM(cents) // COUNT(*) AS mean_cents,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM cells GROUP BY exposed, post
    )
    SELECT CAST(exposed AS BIGINT) AS exposed,
           CAST(post AS BIGINT) AS post,
           CAST(mean_cents AS BIGINT) AS mean_cents,
           n,
           CAST((SELECT (e1.mean_cents - e0.mean_cents) - (c1.mean_cents - c0.mean_cents)
                 FROM m e1, m e0, m c1, m c0
                 WHERE e1.exposed = 1 AND e1.post = 1 AND e0.exposed = 1 AND e0.post = 0
                   AND c1.exposed = 0 AND c1.post = 1 AND c0.exposed = 0 AND c0.post = 0)
                AS BIGINT) AS did_cents
    FROM m
    ORDER BY exposed, post
    """,
)
def ev12_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV12: difference-in-differences — the quasi-experimental readout
    every growth team runs when an exposure wasn't randomized: compare
    the exposed cohort's pre->post change in mean order value against
    the control cohort's change over the same boundary; parallel-trend
    deltas cancel and what remains is the treatment effect estimate.
    Exposure here is the deterministic even-custkey cohort, the period
    boundary 1998-01-01. Cell means are INTEGER floor-means
    (SUM div COUNT — m31's trick: a float avg differs by summation-
    order ulps), so the four cells and the DiD contrast are exact
    BIGINTs. One scan, one 4-group partial-aggregated groupBy; the DiD
    scalar is derived from the 4-row frame itself."""
    o = t(spark, sf_dir, "orders")
    cells = o.select(
        F.when(F.col("o_custkey") % 2 == 0, 1).otherwise(0).alias("exposed"),
        F.when(
            F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"), 1
        ).otherwise(0).alias("post"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    m = (
        cells.groupBy("exposed", "post")
        .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "exposed", "post", F.expr("s div n").alias("mean_cents"), "n"
        )
    )
    # pivot the 4-row frame into one DiD scalar and broadcast it back
    did = (
        m.agg(
            F.sum(
                F.when((F.col("exposed") == 1) & (F.col("post") == 1), F.col("mean_cents"))
                .when((F.col("exposed") == 1) & (F.col("post") == 0), -F.col("mean_cents"))
                .when((F.col("exposed") == 0) & (F.col("post") == 1), -F.col("mean_cents"))
                .otherwise(F.col("mean_cents"))
            ).cast("bigint").alias("did_cents")
        )
    )
    return (
        m.crossJoin(F.broadcast(did))
        .select(
            F.col("exposed").cast("bigint").alias("exposed"),
            F.col("post").cast("bigint").alias("post"),
            F.col("mean_cents").cast("bigint").alias("mean_cents"),
            "n",
            "did_cents",
        )
        .orderBy("exposed", "post")
    )



# --- Kaplan-Meier survival table ---------------------------------------------


def survival_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The order-fulfilment survival cohort: one (dur, ev, grp) row per
    order. dur is the days from order placement to full delivery (the
    last lineitem ship date); ev = 1 for finalized orders ('F'), and
    orders not yet finalized ('O'/'P') are right-censored at their
    observed duration; grp = 1 for URGENT/HIGH priority. dur is a
    bounded order-to-ship day range (~130 values), so every consumer
    collapses the subjects to a per-duration census before anything
    quadratic. The oracle is _SURVIVAL_SUBJ_CTES (done, subj). Read by
    ev13_kaplan_meier (dur, ev), and through survival_census by
    ev27_logrank_test and ev32_cox_proportional_hazards."""
    li = t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.max(F.col("l_shipdate").cast("date")).alias("done_date")
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus", "o_orderpriority"
    )
    return o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.datediff("done_date", F.col("o_orderdate").cast("date")).alias("dur"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("ev"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("grp"),
    )


def survival_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-group per-duration census of survival_subjects:
    (dur, n, n_g1, d_all, d_g1) as exact BIGINTs — subjects, group-1
    subjects, events and group-1 events per duration. At-risk suffix
    counts come from a broadcast non-equi self-join over this
    hundreds-row frame, never a subjects-sized sort. The oracle is
    _SURVIVAL_SUBJ_CTES + _SURVIVAL_PER_CTE. Read by ev27_logrank_test
    and ev32_cox_proportional_hazards."""
    return survival_subjects(spark, sf_dir).groupBy("dur").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("grp").cast("bigint").alias("n_g1"),
        F.sum("ev").cast("bigint").alias("d_all"),
        F.sum(F.col("ev") * F.col("grp")).cast("bigint").alias("d_g1"),
    )


_SURVIVAL_SUBJ_CTES = """
    WITH done AS (
        SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS done_date
        FROM lineitem GROUP BY 1
    ),
    subj AS (
        SELECT DATE_DIFF('day', CAST(o.o_orderdate AS DATE), d.done_date) AS dur,
               CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS ev,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS grp
        FROM orders o JOIN done d ON d.l_orderkey = o.o_orderkey
    )"""

_SURVIVAL_PER_CTE = """,
    per AS (
        SELECT dur,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(grp) AS BIGINT) AS n_g1,
               CAST(SUM(ev) AS BIGINT) AS d_all,
               CAST(SUM(ev * grp) AS BIGINT) AS d_g1
        FROM subj GROUP BY dur
    )"""


@register(
    "ev13_kaplan_meier",
    _SURVIVAL_SUBJ_CTES
    + """,
    per AS (
        SELECT dur, COUNT(*) AS n, SUM(ev) AS d, COUNT(*) - SUM(ev) AS c
        FROM subj GROUP BY dur
    ),
    at_risk AS (
        SELECT a.dur, a.d, a.c, SUM(b.n) AS n_at_risk
        FROM per a JOIN per b ON b.dur >= a.dur
        GROUP BY a.dur, a.d, a.c
    ),
    terms AS (
        SELECT dur, d, c, n_at_risk,
               CASE WHEN d > 0 AND d < n_at_risk
                    THEN CAST(FLOOR(LN((n_at_risk - d) * 1.0 / n_at_risk) * 1e6) AS BIGINT)
                    WHEN d > 0 THEN NULL
                    ELSE CAST(0 AS BIGINT) END AS term_micro
        FROM at_risk
    )
    SELECT CAST(a.dur AS INTEGER) AS t_days,
           CAST(a.n_at_risk AS BIGINT) AS n_at_risk,
           CAST(a.d AS BIGINT) AS n_events,
           CAST(a.c AS BIGINT) AS n_censored,
           CAST(SUM(b.term_micro) AS BIGINT) AS surv_log_micro
    FROM terms a JOIN terms b ON b.dur <= a.dur
    WHERE a.d > 0
    GROUP BY a.dur, a.n_at_risk, a.d, a.c
    ORDER BY t_days
    """,
)
def ev13_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV13: Kaplan-Meier survival table over survival_subjects — the
    NONPARAMETRIC complement to m24's parametric AFT fit. Emits the
    classic KM table at each event time: number at risk, events,
    censored, and the log survival curve as the
    cumulative sum of FLOOR-micro ln((n-d)/n) terms — the dq13 idiom
    that makes a product of fractions hash-comparable across engines
    (each ln is one IEEE double op, each term an integer, the sum
    order-free). Scale shape: subjects collapse to a per-duration
    census first (ONE groupBy; duration domain is the bounded
    order-to-ship day range, ~130 values), then both the
    at-risk suffix count and the cumulative hazard run as broadcast
    non-equi self-joins over that tiny frame — the repo's standard
    alternative to an unpartitioned window, O(days^2) of a hundreds-row
    frame, never a subjects-sized sort. The d = n_at_risk boundary
    (everyone at risk dies at once: S hits exact 0, ln undefined)
    yields NULL by the same CASE on both engines."""
    subj = survival_subjects(spark, sf_dir).select("dur", "ev")

    # r15 (guide §1.2): cache the ~130-row per-duration census and the
    # KM terms below — both feed broadcast non-equi SELF-joins, and
    # each uncached side replayed the full subjects rollup (lineitem
    # groupBy + orders join) per consumer.
    per = cache_once(
        subj.groupBy("dur").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("ev").alias("d"),
            (F.count(F.lit(1)) - F.sum("ev")).alias("c"),
        )
    )
    a, b = per.alias("a"), per.alias("b")
    at_risk = (
        a.join(F.broadcast(b), F.col("b.dur") >= F.col("a.dur"))
        .groupBy(F.col("a.dur").alias("dur"), F.col("a.d").alias("d"), F.col("a.c").alias("c"))
        .agg(F.sum("b.n").alias("n_at_risk"))
    )
    terms = at_risk.select(
        "dur",
        "d",
        "c",
        "n_at_risk",
        F.when(
            (F.col("d") > 0) & (F.col("d") < F.col("n_at_risk")),
            F.floor(
                F.log((F.col("n_at_risk") - F.col("d")) * 1.0 / F.col("n_at_risk")) * 1e6
            ).cast("long"),
        )
        .when(F.col("d") > 0, F.lit(None).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("term_micro"),
    )
    terms = cache_once(terms)
    ta, tb = terms.alias("ta"), terms.alias("tb")
    return (
        ta.join(F.broadcast(tb), F.col("tb.dur") <= F.col("ta.dur"))
        .filter(F.col("ta.d") > 0)
        .groupBy(
            F.col("ta.dur").cast("int").alias("t_days"),
            F.col("ta.n_at_risk").cast("bigint").alias("n_at_risk"),
            F.col("ta.d").cast("bigint").alias("n_events"),
            F.col("ta.c").cast("bigint").alias("n_censored"),
        )
        .agg(F.sum("tb.term_micro").cast("bigint").alias("surv_log_micro"))
        .orderBy("t_days")
    )


# --- Fellegi-Sunter probabilistic record linkage -----------------------------


@register(
    "er_fellegi_sunter",
    """
    WITH cts AS (
        SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    ),
    dirty AS (
        SELECT c_custkey AS d_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN 'Cstmr' || SUBSTRING(c_name, 9)
                    WHEN c_custkey % 3 = 0 THEN c_name || 'x'
                    ELSE c_name END AS d_name,
               c_nationkey AS d_nationkey,
               c_mktsegment AS d_mktsegment,
               cents + CASE WHEN c_custkey % 5 = 0 THEN 7 ELSE 0 END AS d_cents
        FROM cts
    ),
    pairs AS (
        SELECT CASE WHEN levenshtein(d.d_name, c.c_name) <= 1 THEN 1 ELSE 0 END AS name_agree,
               CASE WHEN d.d_cents = c.cents THEN 1 ELSE 0 END AS cents_agree,
               CASE WHEN CAST(FLOOR(d.d_cents / 100000.0) AS BIGINT)
                         = CAST(FLOOR(c.cents / 100000.0) AS BIGINT) THEN 1 ELSE 0 END AS band_agree,
               CASE WHEN d.d_custkey = c.c_custkey THEN 1 ELSE 0 END AS is_match
        FROM dirty d
        JOIN cts c ON d.d_nationkey = c.c_nationkey AND d.d_mktsegment = c.c_mktsegment
    ),
    rates AS (
        SELECT CAST(SUM(is_match) AS BIGINT) AS m_tot,
               CAST(COUNT(*) - SUM(is_match) AS BIGINT) AS u_tot,
               CAST(SUM(name_agree * is_match) AS BIGINT) AS ma_name,
               CAST(SUM(name_agree * (1 - is_match)) AS BIGINT) AS ua_name,
               CAST(SUM(cents_agree * is_match) AS BIGINT) AS ma_cents,
               CAST(SUM(cents_agree * (1 - is_match)) AS BIGINT) AS ua_cents,
               CAST(SUM(band_agree * is_match) AS BIGINT) AS ma_band,
               CAST(SUM(band_agree * (1 - is_match)) AS BIGINT) AS ua_band
        FROM pairs
    ),
    pat AS (
        SELECT name_agree, cents_agree, band_agree,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(is_match) AS BIGINT) AS n_matches
        FROM pairs GROUP BY 1, 2, 3
    )
    SELECT CAST(p.name_agree AS INTEGER) AS name_agree,
           CAST(p.cents_agree AS INTEGER) AS cents_agree,
           CAST(p.band_agree AS INTEGER) AS band_agree,
           p.n_pairs, p.n_matches,
           CAST(CASE WHEN p.name_agree = 1
                THEN CAST(FLOOR(LN((r.ma_name + 1) * (r.u_tot + 2) * 1.0
                                   / ((r.ua_name + 1) * (r.m_tot + 2))) * 1e6) AS BIGINT)
                ELSE CAST(FLOOR(LN((r.m_tot - r.ma_name + 1) * (r.u_tot + 2) * 1.0
                                   / ((r.u_tot - r.ua_name + 1) * (r.m_tot + 2))) * 1e6) AS BIGINT) END
             + CASE WHEN p.cents_agree = 1
                THEN CAST(FLOOR(LN((r.ma_cents + 1) * (r.u_tot + 2) * 1.0
                                   / ((r.ua_cents + 1) * (r.m_tot + 2))) * 1e6) AS BIGINT)
                ELSE CAST(FLOOR(LN((r.m_tot - r.ma_cents + 1) * (r.u_tot + 2) * 1.0
                                   / ((r.u_tot - r.ua_cents + 1) * (r.m_tot + 2))) * 1e6) AS BIGINT) END
             + CASE WHEN p.band_agree = 1
                THEN CAST(FLOOR(LN((r.ma_band + 1) * (r.u_tot + 2) * 1.0
                                   / ((r.ua_band + 1) * (r.m_tot + 2))) * 1e6) AS BIGINT)
                ELSE CAST(FLOOR(LN((r.m_tot - r.ma_band + 1) * (r.u_tot + 2) * 1.0
                                   / ((r.u_tot - r.ua_band + 1) * (r.m_tot + 2))) * 1e6) AS BIGINT) END
             AS BIGINT) AS weight_micro
    FROM pat p CROSS JOIN rates r
    ORDER BY name_agree DESC, cents_agree DESC, band_agree DESC
    """,
)
def er_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER: Fellegi-Sunter probabilistic record linkage — the missing
    entity-resolution family member between j5's blocked fuzzy join
    (candidate generation) and p22's survivorship (post-merge). A
    deterministically perturbed copy of customer (name edit at
    custkey%3/%7, +7-cent balance shift at %5) is linked back against
    the clean table: candidates come ONLY from (nationkey, mktsegment)
    blocks — never all-pairs, the same blocking posture as j5 — and
    each candidate pair is scored on a 3-field comparison vector
    (levenshtein<=1 name agreement, exact cents, $1000 balance band).
    m_k = P(agree|match) and u_k = P(agree|non-match) are estimated
    from the blocked pairs in ONE global aggregate (ground truth =
    same custkey; Laplace +1/+2 smoothing so no zero cell can reach
    the log), and the classic per-pattern log-likelihood weight
    sum(ln(m/u) or ln((1-m)/(1-u))) is emitted per agreement pattern
    in FLOOR-micro integers — exact-product BIGINT numerators (all
    < 2^53), ONE IEEE division, one libm ln per field, the dq13 idiom
    that hash-compares across engines. Scale shape: the pair join is
    a blocked equi-join (a hash join, never cartesian), the rates
    frame is a broadcast 1-row aggregate, and the pattern rollup has
    at most 8 groups; at 100 TB you refine the blocking key (add a
    name-prefix leg), not the algorithm."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    dirty = c.select(
        F.col("c_custkey").alias("d_custkey"),
        F.when(
            F.col("c_custkey") % 7 == 0,
            F.concat(F.lit("Cstmr"), F.expr("substring(c_name, 9)")),
        )
        .when(F.col("c_custkey") % 3 == 0, F.concat(F.col("c_name"), F.lit("x")))
        .otherwise(F.col("c_name"))
        .alias("d_name"),
        F.col("c_nationkey").alias("d_nationkey"),
        F.col("c_mktsegment").alias("d_mktsegment"),
        (
            F.col("cents")
            + F.when(F.col("c_custkey") % 5 == 0, F.lit(7)).otherwise(F.lit(0))
        ).alias("d_cents"),
    )
    pairs = cache_once(
        dirty.join(
            c,
            (F.col("d_nationkey") == F.col("c_nationkey"))
            & (F.col("d_mktsegment") == F.col("c_mktsegment")),
        ).select(
            F.when(F.levenshtein("d_name", "c_name") <= 1, 1).otherwise(0).alias("name_agree"),
            F.when(F.col("d_cents") == F.col("cents"), 1).otherwise(0).alias("cents_agree"),
            F.when(
                F.floor(F.col("d_cents") / F.lit(100000.0)).cast("long")
                == F.floor(F.col("cents") / F.lit(100000.0)).cast("long"),
                1,
            )
            .otherwise(0)
            .alias("band_agree"),
            F.when(F.col("d_custkey") == F.col("c_custkey"), 1).otherwise(0).alias("is_match"),
        )
    )
    rates = pairs.agg(
        F.sum("is_match").cast("long").alias("m_tot"),
        (F.count(F.lit(1)) - F.sum("is_match")).cast("long").alias("u_tot"),
        F.sum(F.col("name_agree") * F.col("is_match")).cast("long").alias("ma_name"),
        F.sum(F.col("name_agree") * (1 - F.col("is_match"))).cast("long").alias("ua_name"),
        F.sum(F.col("cents_agree") * F.col("is_match")).cast("long").alias("ma_cents"),
        F.sum(F.col("cents_agree") * (1 - F.col("is_match"))).cast("long").alias("ua_cents"),
        F.sum(F.col("band_agree") * F.col("is_match")).cast("long").alias("ma_band"),
        F.sum(F.col("band_agree") * (1 - F.col("is_match"))).cast("long").alias("ua_band"),
    )
    pat = pairs.groupBy("name_agree", "cents_agree", "band_agree").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("is_match").cast("long").alias("n_matches"),
    )

    def w(agree_col: str, ma: str, ua: str):
        agree_w = F.floor(
            F.log(
                ((F.col(ma) + 1) * (F.col("u_tot") + 2)).cast("double")
                / ((F.col(ua) + 1) * (F.col("m_tot") + 2))
            )
            * 1e6
        ).cast("long")
        disagree_w = F.floor(
            F.log(
                ((F.col("m_tot") - F.col(ma) + 1) * (F.col("u_tot") + 2)).cast("double")
                / ((F.col("u_tot") - F.col(ua) + 1) * (F.col("m_tot") + 2))
            )
            * 1e6
        ).cast("long")
        return F.when(F.col(agree_col) == 1, agree_w).otherwise(disagree_w)

    return (
        pat.crossJoin(F.broadcast(rates))
        .select(
            F.col("name_agree").cast("int").alias("name_agree"),
            F.col("cents_agree").cast("int").alias("cents_agree"),
            F.col("band_agree").cast("int").alias("band_agree"),
            "n_pairs",
            "n_matches",
            (
                w("name_agree", "ma_name", "ua_name")
                + w("cents_agree", "ma_cents", "ua_cents")
                + w("band_agree", "ma_band", "ua_band")
            )
            .cast("long")
            .alias("weight_micro"),
        )
        .orderBy(
            F.col("name_agree").desc(),
            F.col("cents_agree").desc(),
            F.col("band_agree").desc(),
        )
    )


@register(
    "ev14_uplift_qini",
    """
    WITH pop AS (
        SELECT c_custkey,
               ('0x' || SUBSTR(MD5('u' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 2 AS treated,
               LEAST(9, GREATEST(0, CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) // 120000) AS bin
        FROM customer
    ),
    outcome AS (
        SELECT o_custkey, 1 AS y FROM orders GROUP BY o_custkey
        HAVING SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) >= 50000000
    ),
    scored AS (
        SELECT p.bin, p.treated, COALESCE(o.y, 0) AS y
        FROM pop p LEFT JOIN outcome o ON p.c_custkey = o.o_custkey
    ),
    per_bin AS (
        SELECT bin,
               SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS nt,
               SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS nc,
               SUM(CASE WHEN treated = 1 THEN y ELSE 0 END) AS yt,
               SUM(CASE WHEN treated = 0 THEN y ELSE 0 END) AS yc
        FROM scored GROUP BY bin
    ),
    cum AS (
        SELECT b.bin,
               SUM(b2.nt) AS cnt, SUM(b2.nc) AS cnc,
               SUM(b2.yt) AS cyt, SUM(b2.yc) AS cyc
        FROM per_bin b JOIN per_bin b2 ON b2.bin >= b.bin
        GROUP BY b.bin
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(cnt AS BIGINT) AS cum_treated, CAST(cnc AS BIGINT) AS cum_control,
           CAST(cyt AS BIGINT) AS cum_y_treated, CAST(cyc AS BIGINT) AS cum_y_control,
           CAST((cyt * cnc - cyc * cnt) * 1000000 // cnc AS BIGINT) AS qini_micro
    FROM cum ORDER BY bin
    """,
)
def ev14_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV14: uplift-modeling Qini curve — the causal counterpart of
    m34_calibration_bins: customers hash-split into treatment/control
    (the portable-md5 coin, the repo's A/B idiom since m32), outcome =
    lifetime order value over a threshold, score bins = fixed
    integer-cent acctbal edges (descending richness proxy). Per
    descending-score prefix: cumulative treated/control counts and
    responders, and the Qini value Q(k) = Yt_k - Yc_k * Nt_k/Nc_k in
    exact integer micros via cross-multiplication (no float division
    either engine).

    The 10-row cumulative runs as the broadcast non-equi self-join
    (b2.bin >= b.bin) — the repo's no-unpartitioned-window idiom: the
    heavy work (per-customer outcome agg, bin agg) is ordinary
    partial-agg shuffles; only the 10-row frontier is quadratic, and
    10x10 is free. At 100 TB nothing changes: bins are fixed, the
    per-bin table is O(10) regardless of population."""
    c = t(spark, sf_dir, "customer")
    pop = c.select(
        "c_custkey",
        (portable_hash32(F.concat(F.lit("u"), F.col("c_custkey").cast("string"))) % 2).alias("treated"),
        F.greatest(F.lit(0).cast("long"), F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000")).alias("raw"),
    ).select("c_custkey", "treated", F.expr("CAST(least(9, raw div 120000) AS BIGINT)").alias("bin"))
    outcome = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))").alias("cents"))
        .filter(F.col("cents") >= 50000000)
        .select("o_custkey", F.lit(1).alias("y"))
    )
    scored = pop.join(outcome, pop.c_custkey == outcome.o_custkey, "left").select(
        "bin", "treated", F.coalesce(F.col("y"), F.lit(0)).alias("y")
    )
    per_bin = scored.groupBy("bin").agg(
        F.sum(F.when(F.col("treated") == 1, 1).otherwise(0)).alias("nt"),
        F.sum(F.when(F.col("treated") == 0, 1).otherwise(0)).alias("nc"),
        F.sum(F.when(F.col("treated") == 1, F.col("y")).otherwise(0)).alias("yt"),
        F.sum(F.when(F.col("treated") == 0, F.col("y")).otherwise(0)).alias("yc"),
    )
    b, b2 = per_bin.alias("b"), F.broadcast(per_bin.alias("b2"))
    cum = (
        b.join(b2, F.col("b2.bin") >= F.col("b.bin"))
        .groupBy(F.col("b.bin").alias("bin"))
        .agg(
            F.sum("b2.nt").alias("cnt"),
            F.sum("b2.nc").alias("cnc"),
            F.sum("b2.yt").alias("cyt"),
            F.sum("b2.yc").alias("cyc"),
        )
    )
    return cum.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("cnt").cast("long").alias("cum_treated"),
        F.col("cnc").cast("long").alias("cum_control"),
        F.col("cyt").cast("long").alias("cum_y_treated"),
        F.col("cyc").cast("long").alias("cum_y_control"),
        F.expr("CAST((cyt * cnc - cyc * cnt) * 1000000 DIV cnc AS BIGINT)").alias("qini_micro"),
    ).orderBy("bin")


_PSM_ORACLE = """
    WITH pop AS (
        SELECT c_custkey AS k, c_nationkey AS nation,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS score,
               ('0x' || SUBSTR(MD5('psm-' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 2 AS treated
        FROM customer
    ),
    outcome AS (
        SELECT o_custkey AS ok, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT p.k, p.nation, p.score, p.treated, COALESCE(o.y, 0) AS y,
               LAST_VALUE(CASE WHEN treated = 0 THEN score END IGNORE NULLS) OVER w_prev AS ps,
               LAST_VALUE(CASE WHEN treated = 0 THEN k END IGNORE NULLS) OVER w_prev AS pk,
               FIRST_VALUE(CASE WHEN treated = 0 THEN score END IGNORE NULLS) OVER w_next AS ns,
               FIRST_VALUE(CASE WHEN treated = 0 THEN k END IGNORE NULLS) OVER w_next AS nk
        FROM pop p LEFT JOIN outcome o ON p.k = o.ok
        WINDOW
          w_prev AS (PARTITION BY nation ORDER BY score, k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          w_next AS (PARTITION BY nation ORDER BY score, k
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    matched AS (
        SELECT nation, k, y, score,
               CASE WHEN ps IS NULL AND ns IS NULL THEN NULL
                    WHEN ns IS NULL THEN pk
                    WHEN ps IS NULL THEN nk
                    WHEN (score - ps) <= (ns - score) THEN pk ELSE nk END AS mk,
               CASE WHEN ps IS NULL AND ns IS NULL THEN NULL
                    WHEN ns IS NULL THEN score - ps
                    WHEN ps IS NULL THEN ns - score
                    WHEN (score - ps) <= (ns - score) THEN score - ps ELSE ns - score END AS dist
        FROM ranked WHERE treated = 1
    )
    SELECT CAST(m.nation AS BIGINT) AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_treated,
           CAST(COUNT(m.mk) AS BIGINT) AS n_matched,
           CAST(CASE WHEN COUNT(m.mk) = 0 THEN NULL
                ELSE SUM(CASE WHEN m.mk IS NOT NULL THEN m.y - COALESCE(oc.y, 0) END)
                     // COUNT(m.mk) END AS BIGINT) AS att_cents,
           CAST(CASE WHEN COUNT(m.mk) = 0 THEN NULL
                ELSE SUM(m.dist) // COUNT(m.mk) END AS BIGINT) AS avg_match_dist_cents
    FROM matched m LEFT JOIN outcome oc ON m.mk = oc.ok
    GROUP BY m.nation ORDER BY nation
"""


@register("ev16_propensity_match", _PSM_ORACLE)
def ev16_propensity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV16: propensity-score matching (with replacement) — completes
    the causal toolkit (ev12 DiD, ev14 Qini, m32 permutation): each
    hash-treated customer is matched to its nearest control on the
    score axis WITHIN nation, and the ATT is the matched outcome gap.
    Nearest-neighbor-on-a-sort-key is the as-of join's symmetric twin:
    one nation-PARTITIONED ordered window gives every row its last
    preceding and first following control (ignorenulls last/first),
    and the closer one wins with deterministic tie-break toward the
    lower score — no per-treated scan, no cross join, all integer
    cents.

    Scale: the sort is per-nation (the shuffle key), controls are
    reusable so no iterative assignment pass, and the match is O(n log
    n) in the partition — at 100 TB this is exactly the sorted-merge
    shape AQE loves."""
    from pyspark.sql.window import Window

    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    pop = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").alias("nation"),
        F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").alias("score"),
        (portable_hash32(F.concat(F.lit("psm-"), F.col("c_custkey").cast("string"))) % 2).alias("treated"),
    )
    outcome = o.groupBy(F.col("o_custkey").alias("ok")).agg(
        F.expr("CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias("y")
    )
    w_prev = Window.partitionBy("nation").orderBy("score", "k").rowsBetween(Window.unboundedPreceding, -1)
    w_next = Window.partitionBy("nation").orderBy("score", "k").rowsBetween(1, Window.unboundedFollowing)
    ctl_score = F.when(F.col("treated") == 0, F.col("score"))
    ctl_key = F.when(F.col("treated") == 0, F.col("k"))
    ranked = (
        pop.join(outcome, pop.k == outcome.ok, "left")
        .select("k", "nation", "score", "treated", F.coalesce("y", F.lit(0)).alias("y"))
        .select(
            "*",
            F.last(ctl_score, ignorenulls=True).over(w_prev).alias("ps"),
            F.last(ctl_key, ignorenulls=True).over(w_prev).alias("pk"),
            F.first(ctl_score, ignorenulls=True).over(w_next).alias("ns"),
            F.first(ctl_key, ignorenulls=True).over(w_next).alias("nk"),
        )
    )
    prev_closer = (F.col("score") - F.col("ps")) <= (F.col("ns") - F.col("score"))
    matched = ranked.filter(F.col("treated") == 1).select(
        "nation",
        "y",
        F.when(F.col("ps").isNull() & F.col("ns").isNull(), F.lit(None))
        .when(F.col("ns").isNull(), F.col("pk"))
        .when(F.col("ps").isNull(), F.col("nk"))
        .when(prev_closer, F.col("pk"))
        .otherwise(F.col("nk"))
        .alias("mk"),
        F.when(F.col("ps").isNull() & F.col("ns").isNull(), F.lit(None))
        .when(F.col("ns").isNull(), F.col("score") - F.col("ps"))
        .when(F.col("ps").isNull(), F.col("ns") - F.col("score"))
        .when(prev_closer, F.col("score") - F.col("ps"))
        .otherwise(F.col("ns") - F.col("score"))
        .alias("dist"),
    )
    oc = outcome.select(F.col("ok").alias("c_ok"), F.col("y").alias("cy"))
    return (
        matched.join(oc, matched.mk == oc.c_ok, "left")
        .groupBy(F.col("nation").cast("long").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_treated"),
            F.count("mk").cast("long").alias("n_matched"),
            F.expr(
                "CAST(CASE WHEN COUNT(mk) = 0 THEN NULL ELSE "
                "SUM(CASE WHEN mk IS NOT NULL THEN y - COALESCE(cy, 0) END) DIV COUNT(mk) END AS BIGINT)"
            ).alias("att_cents"),
            F.expr(
                "CAST(CASE WHEN COUNT(mk) = 0 THEN NULL ELSE SUM(dist) DIV COUNT(mk) END AS BIGINT)"
            ).alias("avg_match_dist_cents"),
        )
        .orderBy("nation")
    )


@register(
    "ev17_cuped_adjustment",
    """
    WITH pop AS (
        SELECT c_custkey AS k,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS x,
               ('0x' || SUBSTR(MD5('cuped-' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 2 AS t
        FROM customer
    ),
    outcome AS (
        SELECT o_custkey AS ok, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY o_custkey
    ),
    units AS (
        SELECT p.k, p.t, p.x, COALESCE(o.y, 0) AS y
        FROM pop p LEFT JOIN outcome o ON p.k = o.ok
    ),
    means AS (
        SELECT CAST(SUM(x) // COUNT(*) AS BIGINT) AS mx,
               CAST(SUM(y) // COUNT(*) AS BIGINT) AS my,
               COUNT(*) AS n
        FROM units
    ),
    centered AS (
        SELECT u.k, u.t, u.y, u.x - m.mx AS cx, u.y - m.my AS cy
        FROM units u CROSS JOIN means m
    ),
    theta AS (
        SELECT CAST(SUM(cx * cy) * 1000 // SUM(cx * cx) AS BIGINT) AS th
        FROM centered
    ),
    adjusted AS (
        SELECT c.t, c.y, c.cy,
               (c.y * 1000 - t.th * c.cx) // 1000 AS ya
        FROM centered c CROSS JOIN theta t
    ),
    arm AS (
        SELECT t,
               COUNT(*) AS n,
               CAST(SUM(y) // COUNT(*) AS BIGINT) AS mean_y,
               CAST(SUM(ya) // COUNT(*) AS BIGINT) AS mean_ya
        FROM adjusted GROUP BY t
    ),
    adj_mean AS (
        SELECT CAST(SUM(ya) // COUNT(*) AS BIGINT) AS mya FROM adjusted
    ),
    vars_ AS (
        SELECT CAST(SUM(((a.cy) // 100) * ((a.cy) // 100)) // COUNT(*) AS BIGINT) AS var_u_h,
               CAST(SUM(((a.ya - m.mya) // 100) * ((a.ya - m.mya) // 100)) // COUNT(*) AS BIGINT) AS var_a_h
        FROM adjusted a CROSS JOIN adj_mean m
    )
    SELECT (SELECT th FROM theta) AS theta_milli,
           CAST((SELECT MAX(CASE WHEN t = 1 THEN mean_y END) - MAX(CASE WHEN t = 0 THEN mean_y END) FROM arm) AS BIGINT) AS effect_unadj_cents,
           CAST((SELECT MAX(CASE WHEN t = 1 THEN mean_ya END) - MAX(CASE WHEN t = 0 THEN mean_ya END) FROM arm) AS BIGINT) AS effect_cuped_cents,
           CAST(100 - var_a_h * 100 // var_u_h AS BIGINT) AS var_reduction_pct,
           CAST((SELECT MAX(CASE WHEN t = 1 THEN n END) FROM arm) AS BIGINT) AS n_treated,
           CAST((SELECT MAX(CASE WHEN t = 0 THEN n END) FROM arm) AS BIGINT) AS n_control
    FROM vars_
    """,
)
def ev17_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV17: CUPED variance reduction — the experimentation-platform
    standard (Deng et al., WSDM'13): adjust the experiment metric with
    the pre-experiment covariate, ya = y - theta*(x - E[x]), theta =
    cov(x,y)/var(x), and the treatment-effect estimate keeps its mean
    while its variance drops by corr²(x,y). Everything is exact
    integer arithmetic in a fixed overflow budget: center FIRST (so
    cross-products stay under int64 — the naive n*Σxy form overflows
    at 1e21), theta in FLOOR-milli, adjusted outcomes in floor-cents,
    variances over hectocent deviations. Output: theta, both effect
    estimates, the realized variance-reduction percentage, arm sizes.

    Plan: three global aggregates chained by 1-row broadcast cross
    joins (the repo's no-global-window scalar idiom) plus one 2-row
    arm rollup — every pass is a map-side-combining scan."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    pop = c.select(
        F.col("c_custkey").alias("k"),
        F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").alias("x"),
        (portable_hash32(F.concat(F.lit("cuped-"), F.col("c_custkey").cast("string"))) % 2).alias("t"),
    )
    outcome = o.groupBy(F.col("o_custkey").alias("ok")).agg(
        F.expr("CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias("y")
    )
    units = pop.join(outcome, pop.k == outcome.ok, "left").select(
        "k", "t", "x", F.coalesce("y", F.lit(0)).alias("y")
    )
    means = units.agg(
        F.expr("CAST(SUM(x) DIV COUNT(*) AS BIGINT)").alias("mx"),
        F.expr("CAST(SUM(y) DIV COUNT(*) AS BIGINT)").alias("my"),
    )
    centered = units.crossJoin(F.broadcast(means)).select(
        "k", "t", "y", (F.col("x") - F.col("mx")).alias("cx"), (F.col("y") - F.col("my")).alias("cy")
    )
    theta = centered.agg(F.expr("CAST(SUM(cx * cy) * 1000 DIV SUM(cx * cx) AS BIGINT)").alias("th"))
    adjusted = centered.crossJoin(F.broadcast(theta)).select(
        "t", "y", "cy", F.expr("(y * 1000 - th * cx) DIV 1000").alias("ya"), "th"
    )
    arm = adjusted.groupBy("t").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(SUM(y) DIV COUNT(*) AS BIGINT)").alias("mean_y"),
        F.expr("CAST(SUM(ya) DIV COUNT(*) AS BIGINT)").alias("mean_ya"),
    )
    arm_row = arm.agg(
        F.expr("CAST(MAX(CASE WHEN t = 1 THEN mean_y END) - MAX(CASE WHEN t = 0 THEN mean_y END) AS BIGINT)").alias("effect_unadj_cents"),
        F.expr("CAST(MAX(CASE WHEN t = 1 THEN mean_ya END) - MAX(CASE WHEN t = 0 THEN mean_ya END) AS BIGINT)").alias("effect_cuped_cents"),
        F.expr("CAST(MAX(CASE WHEN t = 1 THEN n END) AS BIGINT)").alias("n_treated"),
        F.expr("CAST(MAX(CASE WHEN t = 0 THEN n END) AS BIGINT)").alias("n_control"),
    )
    adj_mean = adjusted.agg(F.expr("CAST(SUM(ya) DIV COUNT(*) AS BIGINT)").alias("mya"))
    vars_ = (
        adjusted.crossJoin(F.broadcast(adj_mean))
        .agg(
            F.expr("CAST(SUM((cy DIV 100) * (cy DIV 100)) DIV COUNT(*) AS BIGINT)").alias("var_u_h"),
            F.expr("CAST(SUM(((ya - mya) DIV 100) * ((ya - mya) DIV 100)) DIV COUNT(*) AS BIGINT)").alias("var_a_h"),
        )
    )
    return (
        vars_.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(arm_row))
        .select(
            F.col("th").cast("long").alias("theta_milli"),
            "effect_unadj_cents",
            "effect_cuped_cents",
            F.expr("CAST(100 - var_a_h * 100 DIV var_u_h AS BIGINT)").alias("var_reduction_pct"),
            "n_treated",
            "n_control",
        )
    )


@register(
    "ev18_shapley_attribution",
    """
    WITH touched AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             + MAX(CASE WHEN event_type = 'click' THEN 2 ELSE 0 END)
             + MAX(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END) AS bits,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id
    ),
    seen AS (
        SELECT bits, COUNT(*) AS n_s, SUM(conv) AS c_s FROM touched GROUP BY bits
    ),
    subsets AS (
        SELECT u.s AS bits,
               COALESCE((SELECT CAST(c_s * 1000000 // n_s AS BIGINT) FROM seen WHERE seen.bits = u.s), 0) AS v
        FROM (SELECT UNNEST(RANGE(0, 8)) AS s) u
    ),
    channels(ch, b) AS (VALUES ('view', 1), ('click', 2), ('signup', 4)),
    marginals AS (
        SELECT c.ch,
               CASE BIT_COUNT(s0.bits) WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END
                 * (s1.v - s0.v) AS term
        FROM channels c
        JOIN subsets s0 ON (s0.bits & c.b) = 0
        JOIN subsets s1 ON s1.bits = (s0.bits | c.b)
    )
    SELECT ch AS channel,
           CAST(SUM(term) // 6 AS BIGINT) AS shapley_micro
    FROM marginals GROUP BY ch ORDER BY channel
    """,
)
def ev18_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV18: exact Shapley channel attribution — the game-theoretic
    upgrade over ev3's last-click rule (the marketing-measurement
    standard): each channel's credit is its average marginal lift in
    conversion rate across every coalition it can join. With 3
    channels the coalition space is 8 subsets, so Shapley is EXACT —
    characteristic values v(S) are floor-micro conversion rates per
    observed touch-bitmap (unobserved subsets contribute v=0), and the
    weights |S|!(n-|S|-1)!/n! become the integers {2,1,2}/6, so the
    whole computation is integer arithmetic over an 8-row frame.

    Plan: one hash-agg to per-user bitmaps (the only data-sized
    shuffle), one to the 8-row coalition census; the Shapley sum is a
    broadcast 3x8 join. At 100 TB only the bitmap agg grows; 10+
    channels would need sampled coalitions (the documented frontier —
    exact Shapley is exponential by nature)."""
    ev = t(spark, sf_dir, "events")
    touched = ev.groupBy("user_id").agg(
        (
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
            + F.max(F.when(F.col("event_type") == "click", 2).otherwise(0))
            + F.max(F.when(F.col("event_type") == "signup", 4).otherwise(0))
        ).alias("bits"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
    )
    seen = touched.groupBy("bits").agg(
        F.count(F.lit(1)).alias("n_s"), F.sum("conv").alias("c_s")
    )
    allsets = ev.sparkSession.range(0, 8).select(F.col("id").cast("int").alias("bits"))
    subsets = (
        allsets.join(seen, "bits", "left")
        .select(
            "bits",
            F.coalesce(F.expr("CAST(c_s * 1000000 DIV n_s AS BIGINT)"), F.lit(0)).alias("v"),
        )
    )
    channels = ev.sparkSession.createDataFrame([("view", 1), ("click", 2), ("signup", 4)], "ch string, b int")
    s0 = subsets.select(F.col("bits").alias("bits0"), F.col("v").alias("v0"))
    s1 = subsets.select(F.col("bits").alias("bits1"), F.col("v").alias("v1"))
    marginals = (
        F.broadcast(channels)
        .join(F.broadcast(s0), F.expr("(bits0 & b) = 0"))
        .join(F.broadcast(s1), F.expr("bits1 = (bits0 | b)"))
        .select(
            "ch",
            (
                F.when(F.bit_count("bits0") == 0, 2)
                .when(F.bit_count("bits0") == 1, 1)
                .otherwise(2)
                * (F.col("v1") - F.col("v0"))
            ).alias("term"),
        )
    )
    return (
        marginals.groupBy(F.col("ch").alias("channel"))
        .agg(F.expr("CAST(SUM(term) DIV 6 AS BIGINT)").alias("shapley_micro"))
        .orderBy("channel")
    )


# --- ER2: sorted-neighborhood blocking (Hernandez-Stolfo SNM) ----------------


@register(
    "er2_sorted_neighborhood",
    """
    WITH dirty AS (
        SELECT c_custkey AS ck,
               CASE WHEN c_custkey % 7 = 0 THEN 'Cstmr' || SUBSTRING(c_name, 9)
                    WHEN c_custkey % 3 = 0 THEN c_name || 'x'
                    ELSE c_name END AS name
        FROM customer
    ),
    recs AS (
        SELECT 0 AS src, c_custkey AS ck, c_name AS name FROM customer
        UNION ALL
        SELECT 1 AS src, ck, name FROM dirty
    ),
    ranked AS (
        SELECT src, ck, name,
               ROW_NUMBER() OVER (ORDER BY name, src, ck) AS pos
        FROM recs
    ),
    deltas AS (SELECT UNNEST([1, 2, 3]) AS delta),
    per AS (
        SELECT dl.delta,
               COUNT(*) AS n_pairs,
               SUM(CASE WHEN a.ck = b.ck AND a.src <> b.src THEN 1 ELSE 0 END)
                 AS n_matches
        FROM ranked a
        JOIN deltas dl ON TRUE
        JOIN ranked b ON b.pos = a.pos + dl.delta
        GROUP BY dl.delta
    ),
    tot AS (SELECT COUNT(*) AS n_true FROM customer)
    SELECT CAST(p.delta AS BIGINT) AS window_delta,
           CAST(p.n_pairs AS BIGINT) AS n_pairs,
           CAST(p.n_matches AS BIGINT) AS n_matches,
           CAST(SUM(q.n_matches) AS BIGINT) AS cum_matches,
           CAST(SUM(q.n_matches) * 1000000 // ANY_VALUE(tot.n_true) AS BIGINT)
             AS recall_micro
    FROM per p JOIN per q ON q.delta <= p.delta CROSS JOIN tot
    GROUP BY p.delta, p.n_pairs, p.n_matches
    ORDER BY p.delta
    """,
)
def er2_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER2: sorted-neighborhood-method blocking (Hernandez & Stolfo) —
    the OTHER classic candidate generator next to er_fellegi_sunter's
    attribute blocking: sort the unioned clean+dirty records by the
    name key and compare only records <= w positions apart. Reports,
    per window offset 1..3, the candidate volume, true matches caught
    (same custkey, opposite source), cumulative matches, and micro
    recall vs the planted truth — the %7 'Cstmr' prefix corruption
    sorts far away and is exactly the class SNM is known to miss,
    so recall plateaus below 1 (the published SNM weakness, visible
    as data). Scale: the GLOBAL sort position is assigned WITHOUT a
    global window — records bucket by an order-consistent 12-char
    name prefix, rank within buckets (partitioned window), and add
    exclusive per-bucket offsets from the tiny counts ledger
    (ordered.exclusive_prefix_offsets, the p14 idiom); neighbor
    pairing is then an EQUI-join on pos+delta. Every stage is a hash
    shuffle or broadcast of a KB ledger — no funnel, no all-pairs."""
    from realestate_engine.ordered import exclusive_prefix_offsets

    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    dirty = c.select(
        F.col("c_custkey").alias("ck"),
        F.when(
            F.col("c_custkey") % 7 == 0,
            F.concat(F.lit("Cstmr"), F.expr("substring(c_name, 9)")),
        )
        .when(F.col("c_custkey") % 3 == 0, F.concat(F.col("c_name"), F.lit("x")))
        .otherwise(F.col("c_name"))
        .alias("name"),
    )
    recs = (
        c.select(F.lit(0).alias("src"), F.col("c_custkey").alias("ck"), F.col("c_name").alias("name"))
        .unionByName(dirty.select(F.lit(1).alias("src"), "ck", "name"))
        .withColumn("bucket", F.substring("name", 1, 12))
    )
    counts = recs.groupBy("bucket").agg(F.count(F.lit(1)).alias("tot"))
    offs = exclusive_prefix_offsets(counts, "bucket", "tot")
    w_b = Window.partitionBy("bucket").orderBy("name", "src", "ck")
    ranked = cache_once(
        recs.withColumn("rn", F.row_number().over(w_b))
        .join(F.broadcast(offs), "bucket")
        .select("src", "ck", "name", (F.col("_off") + F.col("rn")).alias("pos"))
    )
    a = ranked.alias("a").withColumn("delta", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))))
    b = ranked.alias("b")
    per = (
        a.join(b, F.col("b.pos") == F.col("a.pos") + F.col("delta"))
        .groupBy("delta")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.when(
                    (F.col("a.ck") == F.col("b.ck")) & (F.col("a.src") != F.col("b.src")), 1
                ).otherwise(0)
            ).alias("n_matches"),
        )
    )
    n_true = c.agg(F.count(F.lit(1)).alias("n_true"))
    p, q = per.alias("p"), per.alias("q")
    return (
        p.join(F.broadcast(q), F.col("q.delta") <= F.col("p.delta"))
        .crossJoin(F.broadcast(n_true))
        .groupBy(
            F.col("p.delta").alias("window_delta"),
            F.col("p.n_pairs").alias("n_pairs"),
            F.col("p.n_matches").alias("n_matches"),
        )
        .agg(
            F.sum("q.n_matches").cast("bigint").alias("cum_matches"),
            F.expr("CAST(sum(q.n_matches) * 1000000 DIV any_value(n_true) AS BIGINT)").alias(
                "recall_micro"
            ),
        )
        .select(
            F.col("window_delta").cast("bigint").alias("window_delta"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("n_matches").cast("bigint").alias("n_matches"),
            "cum_matches",
            "recall_micro",
        )
        .orderBy("window_delta")
    )


# --- EV19: sequential probability ratio test (Wald SPRT) per user -----------
#
# H0: conversion rate p0 = 0.15 vs H1: p1 = 0.25, alpha = beta = 0.05.
# The per-event log-likelihood increments and the decision bounds are
# HOST-computed floor-micro literals (no runtime libm), so the whole
# test is exact BIGINT prefix sums + a first-crossing argmin.

_SPRT_INC_CONV = 510825     # floor(ln(p1/p0) * 1e6)
_SPRT_INC_NON = -125164     # floor(ln((1-p1)/(1-p0)) * 1e6)
_SPRT_A = 2944438           # floor(ln((1-a)/a) * 1e6): accept H1 at/above
_SPRT_B = -2944439          # floor(ln(a/(1-a)) * 1e6): accept H0 at/below


@register(
    "ev19_sprt_user",
    f"""
    WITH seq AS (
        SELECT user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN {_SPRT_INC_CONV} ELSE {_SPRT_INC_NON} END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS cum
        FROM events
    ),
    crossing AS (
        SELECT user_id,
               MIN(CASE WHEN cum >= {_SPRT_A} OR cum <= {_SPRT_B} THEN rn END)
                 AS stop_rn
        FROM seq GROUP BY user_id
    )
    SELECT s.user_id,
           CAST(MAX(s.rn) AS BIGINT) AS n_events,
           CAST(ANY_VALUE(c.stop_rn) AS BIGINT) AS stop_rn,
           CASE WHEN ANY_VALUE(c.stop_rn) IS NULL THEN 'continue'
                WHEN ARG_MIN(s.cum, CASE WHEN s.rn = c.stop_rn THEN 0 ELSE 1 END)
                     >= {_SPRT_A} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           CAST(ARG_MAX(s.cum, s.rn) AS BIGINT) AS final_llr_micro
    FROM seq s JOIN crossing c ON c.user_id = s.user_id
    GROUP BY s.user_id
    ORDER BY s.user_id
    """,
)
def ev19_sprt_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV19: Wald's sequential probability ratio test run over each
    user's event stream — the early-stopping primitive under every
    modern sequential experimentation platform: the cumulative
    log-likelihood ratio of H1 (p=0.25 conversion) vs H0 (p=0.15) is
    a per-user ordered prefix sum of TWO integer constants
    (host-precomputed floor-micro ln terms — zero runtime libm), the
    decision is the first boundary crossing (accept H1 at/above
    ln((1-a)/a), H0 at/below ln(a/(1-a))), users that never cross
    keep sampling ('continue'). All windows PARTITIONED by user —
    parallelism = users, no funnel; at 100 TB this is one shuffle on
    user_id and codegen'd running sums, the same plan at any scale."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.row_number().over(w_ord).alias("rn"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.lit(_SPRT_INC_CONV)).otherwise(
                F.lit(_SPRT_INC_NON)
            )
        )
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    crossing = seq.groupBy("user_id").agg(
        F.min(
            F.when((F.col("cum") >= _SPRT_A) | (F.col("cum") <= _SPRT_B), F.col("rn"))
        ).alias("stop_rn")
    )
    joined = seq.join(crossing, "user_id")
    return (
        joined.groupBy("user_id")
        .agg(
            F.max("rn").cast("bigint").alias("n_events"),
            F.any_value("stop_rn").cast("bigint").alias("stop_rn"),
            F.when(F.any_value("stop_rn").isNull(), F.lit("continue"))
            .when(
                F.min_by(
                    F.col("cum"),
                    F.when(F.col("rn") == F.col("stop_rn"), F.lit(0)).otherwise(F.lit(1)),
                )
                >= _SPRT_A,
                F.lit("accept_h1"),
            )
            .otherwise(F.lit("accept_h0"))
            .alias("decision"),
            F.max_by("cum", "rn").cast("bigint").alias("final_llr_micro"),
        )
        .orderBy("user_id")
    )


# --- EV20: MATCH_RECOGNIZE-style sequence pattern matching --------------------
#
# Event-type alphabet: s=signup, v=view, c=click, p=purchase, e=error.
# Pattern 'sv+p' = signup, one-or-more views, purchase — the activation
# funnel with STRICT contiguity (no intervening events), which plain
# funnel queries (ev6) cannot express.

_SEQ_PAT = "sv+p"
_SEQ_SYM = (
    "CASE event_type WHEN 'signup' THEN 's' WHEN 'view' THEN 'v' "
    "WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p' ELSE 'e' END"
)


@register(
    "ev20_sequence_pattern_match",
    f"""
    WITH seq AS (
        SELECT user_id,
               STRING_AGG({_SEQ_SYM}, '' ORDER BY ts, event_id) AS s
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(LEN(s) AS BIGINT) AS n_events,
           CAST(LEN(REGEXP_EXTRACT_ALL(s, '{_SEQ_PAT}')) AS BIGINT) AS n_matches,
           CAST(CASE WHEN LEN(REGEXP_EXTRACT_ALL(s, '{_SEQ_PAT}')) > 0
                     THEN LEN(REGEXP_EXTRACT(s, '^(.*?){_SEQ_PAT}', 1)) + 1
                     ELSE 0 END AS BIGINT) AS first_match_pos,
           SUBSTR(MD5(s), 1, 8) AS seq_fingerprint
    FROM seq ORDER BY user_id
    """,
)
def ev20_sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV20: sequence pattern matching over event streams — the
    MATCH_RECOGNIZE idea (SQL:2016 row-pattern recognition) in its
    portable poor-man's form: each user's time-ordered events collapse
    to a symbol string (deterministic ORDER BY ts, event_id
    aggregation), and the pattern 'sv+p' (signup, >=1 CONTIGUOUS
    views, purchase — strict adjacency, which set-based funnels like
    ev6 cannot state) runs as a plain regex: non-overlapping match
    count, first match position (prefix-capture length — identical
    leftmost-match semantics in RE2 and Java regex for backreference-
    free patterns), and an md5 fingerprint pinning the full sequence
    construction. Scale: one groupBy-user shuffle; per-user strings
    are bounded by per-user activity (the same contract as every
    applyInPandas recurrence here) and the regex is codegen'd
    JVM-side — no Python. For unbounded histories you'd window the
    string by session (ts_sessionize_gap) first."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    seq = (
        ev.select("user_id", F.struct("ts", "event_id").alias("k"), F.expr(_SEQ_SYM).alias("sym"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("k"), F.col("sym")))),
                    lambda x: x.sym,
                ),
                "",
            ).alias("s")
        )
    )
    return seq.select(
        "user_id",
        F.length("s").cast("bigint").alias("n_events"),
        F.size(F.expr(f"regexp_extract_all(s, '{_SEQ_PAT}', 0)")).cast("bigint").alias("n_matches"),
        # Spark regexp_extract returns '' (not NULL) on no match, so the
        # position must be gated on an explicit match-exists test or
        # non-matching users would read position 1 here and 0 in DuckDB.
        F.when(
            F.size(F.expr(f"regexp_extract_all(s, '{_SEQ_PAT}', 0)")) > 0,
            F.length(F.regexp_extract("s", f"^(.*?){_SEQ_PAT}", 1)) + 1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("first_match_pos"),
        F.substring(F.md5("s"), 1, 8).alias("seq_fingerprint"),
    ).orderBy("user_id")


# --- EV21: two-proportion z-test (the A/B conversion staple) -------------------


# The pooled two-proportion z-test over the four exact counts (n0, x0)
# control and (n1, x1) treatment, as SQL text that the Spark queries
# (F.expr) and the oracles embed verbatim: one fixed IEEE tree (two
# divisions, one sqrt) FLOORed to micros, so both engines compute the
# same doubles and the results hash-compare. _ZTEST_DIFF is the lift,
# _ZTEST_SE2 the pooled variance of it. Read by ev21, and through
# segment_ztests by ev23 and ev29.
_ZTEST_DIFF = "(CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)"
_ZTEST_SE2 = (
    "((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))"
    " * (1 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))"
    " * (1.0 / n0 + 1.0 / n1))"
)
_ZTEST_LIFT_MICRO = f"CAST(FLOOR({_ZTEST_DIFF} * 1000000) AS BIGINT)"
_ZTEST_Z_MICRO = f"CAST(FLOOR({_ZTEST_DIFF} / SQRT{_ZTEST_SE2} * 1000000) AS BIGINT)"
_ZTEST_SIGNIFICANT = f"ABS{_ZTEST_DIFF} > 1.959964 * SQRT{_ZTEST_SE2}"
_ZTEST_Z2_MICRO = (
    f"CAST(FLOOR(({_ZTEST_DIFF} * {_ZTEST_DIFF}) / {_ZTEST_SE2} * 1000000) AS BIGINT)"
)


@register(
    "ev21_two_proportion_ztest",
    f"""
    WITH assign AS (
        SELECT user_id % 2 AS arm,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
        FROM events
    ),
    arms AS (
        SELECT arm, COUNT(*) AS n, SUM(conv) AS x FROM assign GROUP BY arm
    ),
    w AS (
        SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
               MAX(CASE WHEN arm = 0 THEN x END) AS x0,
               MAX(CASE WHEN arm = 1 THEN n END) AS n1,
               MAX(CASE WHEN arm = 1 THEN x END) AS x1
        FROM arms
    )
    SELECT CAST(n0 AS BIGINT) AS n_control, CAST(x0 AS BIGINT) AS conv_control,
           CAST(n1 AS BIGINT) AS n_treat, CAST(x1 AS BIGINT) AS conv_treat,
           {_ZTEST_LIFT_MICRO} AS lift_micro,
           {_ZTEST_Z_MICRO} AS z_micro,
           {_ZTEST_SIGNIFICANT} AS significant_5pct
    FROM w
    """,
)
def ev21_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV21: pooled two-proportion z-test — THE conversion-rate A/B
    readout (ev12's diff-in-diff and ev17's CUPED adjust it; this is
    the baseline it adjusts FROM): arms by user parity, conversions =
    purchase events, pooled-variance z statistic and the 5%
    significance boolean (the _ZTEST_* texts); the significance test
    is a float comparison of the SAME two subtrees both engines build,
    so it hash-compares. One hash-agg; at 100 TB the test is metadata
    after the count."""
    ev = t(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    arms = ev.groupBy("arm").agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("x"))
    w = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("x"))).alias("x1"),
    )
    return w.select(
        F.col("n0").cast("bigint").alias("n_control"),
        F.col("x0").cast("bigint").alias("conv_control"),
        F.col("n1").cast("bigint").alias("n_treat"),
        F.col("x1").cast("bigint").alias("conv_treat"),
        F.expr(_ZTEST_LIFT_MICRO).alias("lift_micro"),
        F.expr(_ZTEST_Z_MICRO).alias("z_micro"),
        F.expr(_ZTEST_SIGNIFICANT).alias("significant_5pct"),
    )


# --- EV22: sample-ratio mismatch guardrail --------------------------------------


@register(
    "ev22_srm_check",
    """
    WITH counts AS (
        SELECT SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n0,
               SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n1
        FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT CAST(n0 AS BIGINT) AS n_control,
           CAST(n1 AS BIGINT) AS n_treat,
           CAST(FLOOR(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1) * 1000000)
                AS BIGINT) AS chi2_micro,
           CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1) > 3.841459
             AS srm_detected
    FROM counts
    """,
)
def ev22_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV22: sample-ratio mismatch — the guardrail every
    experimentation platform runs BEFORE reading any metric (a
    significant deviation from the designed 50/50 assignment means
    the randomization is broken and ev12/ev17/ev21's readouts are
    garbage): for a two-arm equal design the chi-square statistic
    collapses to (n0-n1)^2/(n0+n1), one exact-integer expression plus
    a fixed 3.84 (df=1, 5%) comparison. Counted over DISTINCT users
    (assignment units), not events — the classic SRM pitfall is
    counting exposures. One distinct-agg; metadata thereafter."""
    ev = t(spark, sf_dir, "events").select("user_id").distinct()
    counts = ev.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).alias("n1"),
    )
    chi2 = "CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1)"
    return counts.select(
        F.col("n0").cast("bigint").alias("n_control"),
        F.col("n1").cast("bigint").alias("n_treat"),
        F.expr(f"CAST(FLOOR({chi2} * 1000000) AS BIGINT)").alias("chi2_micro"),
        F.expr(f"{chi2} > 3.841459").alias("srm_detected"),
    )


# Holm-Bonferroni critical values: chi2_inv(1 - 0.05/k, df=1) for
# k = m..1 remaining tests, computed ONCE from the stdlib normal
# quantile (NormalDist is deterministic); both the Spark query and the
# DuckDB oracle embed the SAME literals, so only cross-side identity
# (not quantile accuracy) matters for the hash.
from statistics import NormalDist as _ND

_HOLM_M = 5  # user_id%5 segments, arms by (user_id//5)%2: all cells populated even at sf0.001's 15 users
_HOLM_CRIT2_MICRO = [
    int(_ND().inv_cdf(1 - 0.05 / (2 * k)) ** 2 * 1_000_000) for k in range(_HOLM_M, 0, -1)
]  # index rank-1 = critical z^2 (micro) at that rank, when k = m - rank + 1 tests remain


def segment_ztest_ctes(m: int, crit2_micro: list[int]) -> str:
    """Oracle prelude of segment_ztests, ending in the `tested` CTE."""
    crit_values = ", ".join(f"({rank}, {c})" for rank, c in enumerate(crit2_micro, 1))
    return f"""
    WITH assign AS (
        SELECT user_id % {m} AS seg, (user_id // {m}) % 2 AS arm,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
        FROM events
    ),
    arms AS (
        SELECT seg,
               MAX(CASE WHEN arm = 0 THEN n END) AS n0,
               MAX(CASE WHEN arm = 0 THEN x END) AS x0,
               MAX(CASE WHEN arm = 1 THEN n END) AS n1,
               MAX(CASE WHEN arm = 1 THEN x END) AS x1
        FROM (SELECT seg, arm, COUNT(*) AS n, SUM(conv) AS x
              FROM assign GROUP BY seg, arm)
        GROUP BY seg
    ),
    z AS (
        SELECT seg, CAST(n0 + n1 AS BIGINT) AS n_total,
               {_ZTEST_Z2_MICRO} AS z2_micro
        FROM arms
    ),
    ranked AS (
        SELECT a.seg, a.n_total, a.z2_micro,
               CAST(1 + (SELECT COUNT(*) FROM z b
                         WHERE (b.z2_micro, b.seg) > (a.z2_micro, a.seg))
                    AS BIGINT) AS rank
        FROM z a
    ),
    crit(rank, crit2_micro) AS (VALUES {crit_values}),
    tested AS (
        SELECT r.seg, r.n_total, r.z2_micro, r.rank,
               r.z2_micro >= c.crit2_micro AS pass_own
        FROM ranked r JOIN crit c USING (rank)
    )"""


def segment_ztests(
    spark: SparkSession, sf_dir: str, m: int, crit2_micro: list[int]
) -> DataFrame:
    """m simultaneous conversion z-tests, one per user_id % m segment
    with arms by (user_id // m) % 2, ranked and tested against a
    critical ladder: (seg, n_total, z2_micro, rank, pass_own).

    - **z^2.** Each segment's pooled z^2 flows from four exact counts
      through _ZTEST_Z2_MICRO, FLOORed to micros.
    - **Rank.** 1 = largest z^2, ties broken by the larger seg; a
      broadcast self-join over the m-row frame (the
      no-unpartitioned-window idiom, m11/q15 precedent), so nothing
      funnels at any scale.
    - **Ladder.** crit2_micro[rank - 1] is the critical z^2 (micro) at
      that rank, stdlib-computed once and embedded as identical
      literals in query and oracle; pass_own is a pure BIGINT
      comparison.

    The oracle is segment_ztest_ctes(m, crit2_micro). Read by
    ev23_holm_bonferroni (step-down) and ev29_benjamini_hochberg
    (step-up); the step joins stay with each query."""
    ev = t(spark, sf_dir, "events").select(
        (F.col("user_id") % m).alias("seg"),
        # exact integer division (div), matching the oracle's // — a
        # double / would diverge past 2^53 (VERDICT r9 advice)
        (F.expr(f"user_id div {m}") % 2).alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    arms = (
        ev.groupBy("seg", "arm")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("x"))
        .groupBy("seg")
        .agg(
            F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
            F.max(F.when(F.col("arm") == 0, F.col("x"))).alias("x0"),
            F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
            F.max(F.when(F.col("arm") == 1, F.col("x"))).alias("x1"),
        )
    )
    z = arms.select(
        "seg",
        (F.col("n0") + F.col("n1")).cast("bigint").alias("n_total"),
        F.expr(_ZTEST_Z2_MICRO).alias("z2_micro"),
    )
    a, b = z.alias("a"), z.alias("b")
    worse = (F.col("b.z2_micro") > F.col("a.z2_micro")) | (
        (F.col("b.z2_micro") == F.col("a.z2_micro")) & (F.col("b.seg") > F.col("a.seg"))
    )
    ranked = (
        a.join(F.broadcast(b), worse, "left")
        .groupBy("a.seg", "a.n_total", "a.z2_micro")
        .agg((F.count(F.col("b.seg")) + 1).cast("bigint").alias("rank"))
        .select(F.col("seg"), F.col("n_total"), F.col("z2_micro"), F.col("rank"))
    )
    crit = spark.createDataFrame(
        list(enumerate(crit2_micro, 1)), "rank bigint, crit2_micro bigint"
    )
    return ranked.join(F.broadcast(crit), "rank").select(
        "seg", "n_total", "z2_micro", "rank",
        (F.col("z2_micro") >= F.col("crit2_micro")).alias("pass_own"),
    )


_EV23_ORACLE = segment_ztest_ctes(_HOLM_M, _HOLM_CRIT2_MICRO) + """
    SELECT a.seg, a.n_total, a.z2_micro, a.rank,
           a.pass_own AS rejected_raw,
           MIN(CASE WHEN b.pass_own THEN 1 ELSE 0 END) = 1 AS rejected_holm
    FROM tested a JOIN tested b ON b.rank <= a.rank
    GROUP BY a.seg, a.n_total, a.z2_micro, a.rank, a.pass_own
    ORDER BY a.rank
"""


@register("ev23_holm_bonferroni", _EV23_ORACLE)
def ev23_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV23: Holm-Bonferroni step-down correction across the m = 5
    segment_ztests (populated on both arms at every SF) — the guard
    every multi-cell experiment readout needs against alpha inflation.
    The step-down prefix-AND is a broadcast self-join over the m-row
    frame; at 100 TB the correction is metadata after one
    segment-keyed count."""
    tested = segment_ztests(spark, sf_dir, _HOLM_M, _HOLM_CRIT2_MICRO)
    ta, tb = tested.alias("ta"), tested.alias("tb")
    return (
        ta.join(F.broadcast(tb), F.col("tb.rank") <= F.col("ta.rank"))
        .groupBy("ta.seg", "ta.n_total", "ta.z2_micro", "ta.rank", "ta.pass_own")
        .agg(F.min(F.col("tb.pass_own")).alias("rejected_holm"))
        .select(
            F.col("seg"), F.col("n_total"), F.col("z2_micro"), F.col("rank"),
            F.col("pass_own").alias("rejected_raw"),
            F.col("rejected_holm"),
        )
        .orderBy("rank")
    )


# Power-analysis constants from the stdlib normal quantile (same
# contract as ev23's critical values: identical literals both sides).
_PWR_Z_SUM_SQ = (_ND().inv_cdf(0.975) + _ND().inv_cdf(0.80)) ** 2  # (z_{α/2} + z_β)²
_PWR_DELTAS_MICRO = [10000, 20000, 30000, 40000, 50000]  # 1%..5% absolute lift


@register(
    "ev24_power_analysis",
    f"""
    WITH base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_conv,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
    ),
    grid(delta_micro) AS (VALUES {", ".join(f"({d})" for d in _PWR_DELTAS_MICRO)})
    SELECT CAST(g.delta_micro AS BIGINT) AS delta_micro,
           CAST(FLOOR({_PWR_Z_SUM_SQ!r}
               * 2 * (CAST(b.n_conv AS DOUBLE) / b.n_events)
               * (1 - CAST(b.n_conv AS DOUBLE) / b.n_events)
               / ((g.delta_micro / 1000000.0) * (g.delta_micro / 1000000.0)))
               AS BIGINT) + 1 AS n_required_per_arm,
           b.n_users,
           b.n_users // 2 >= CAST(FLOOR({_PWR_Z_SUM_SQ!r}
               * 2 * (CAST(b.n_conv AS DOUBLE) / b.n_events)
               * (1 - CAST(b.n_conv AS DOUBLE) / b.n_events)
               / ((g.delta_micro / 1000000.0) * (g.delta_micro / 1000000.0)))
               AS BIGINT) + 1 AS feasible_by_users
    FROM grid g CROSS JOIN base b
    ORDER BY g.delta_micro
    """,
)
def ev24_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV24: A/B sample-size (power) analysis — for each minimum
    detectable absolute lift in {{1..5}} %, the per-arm n required at
    alpha = 5 % two-sided / 80 % power, n = (z_a/2 + z_b)^2 ·
    2·p(1-p) / delta^2, with p the pooled conversion rate. The z
    constants are stdlib-computed literals embedded identically in
    query and oracle (the ev23 contract); n_required is
    FLOOR(expr) + 1 — the smallest integer strictly above the float
    bound, one fixed IEEE tree both sides. Feasibility compares
    against observed distinct users per arm. The design-phase
    counterpart of ev21 (the readout) and ev23 (the multiple-testing
    guard); at 100 TB the analysis is metadata after one count."""
    ev = t(spark, sf_dir, "events")
    base = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_conv"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    grid = spark.createDataFrame(
        [(d,) for d in _PWR_DELTAS_MICRO], "delta_micro bigint"
    )
    n_req = (
        f"CAST(FLOOR({_PWR_Z_SUM_SQ!r}"
        " * 2 * (CAST(n_conv AS DOUBLE) / n_events)"
        " * (1 - CAST(n_conv AS DOUBLE) / n_events)"
        " / ((delta_micro / 1000000.0) * (delta_micro / 1000000.0))) AS BIGINT) + 1"
    )
    return (
        grid.crossJoin(F.broadcast(base))
        .selectExpr(
            "delta_micro",
            f"{n_req} AS n_required_per_arm",
            "n_users",
            f"n_users DIV 2 >= {n_req} AS feasible_by_users",
        )
        .orderBy("delta_micro")
    )


@register(
    "ev25_cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id,
               CAST(DATE_TRUNC('week', f.first_day) AS DATE) AS cohort_week,
               CAST((CAST(CAST(ts AS DATE) AS DATE)
                     - CAST(DATE_TRUNC('week', f.first_day) AS DATE)) // 7
                    AS BIGINT) AS week_offset
        FROM events e JOIN firsts f USING (user_id)
    ),
    cohort_sizes AS (
        SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM (SELECT DISTINCT user_id, cohort_week FROM activity)
        GROUP BY cohort_week
    )
    SELECT CAST(a.cohort_week AS TIMESTAMP) AS cohort_week, a.week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active,
           s.n_users AS cohort_size,
           CAST(COUNT(DISTINCT a.user_id) * 1000000 // s.n_users AS BIGINT)
               AS retention_micro
    FROM activity a JOIN cohort_sizes s USING (cohort_week)
    WHERE a.week_offset <= 8
    GROUP BY a.cohort_week, a.week_offset, s.n_users
    ORDER BY a.cohort_week, a.week_offset
    """,
)
def ev25_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV25: the cohort retention matrix — users grouped by the week of
    their FIRST event, retention = share of each cohort active k weeks
    later (k <= 8) — the canonical growth-analytics readout no
    experiment suite ships without. Week arithmetic stays in integer
    days (date difference DIV 7 from the cohort's truncated week), the
    share is an exact integer micro-division.

    Plan: one groupBy for first-touch (user-keyed shuffle), the
    activity grid as a distinct over (user, offset) — combiner-
    friendly, bounded by users x 9 offsets — and the matrix as one
    (cohort, offset)-keyed agg. At 100 TB retention is two shuffles
    over user-sized relations, never event-sized joins."""
    ev = t(spark, sf_dir, "events").select("user_id", F.col("ts").cast("date").alias("day"))
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    cohorted = firsts.select(
        "user_id", F.date_trunc("week", "first_day").cast("date").alias("cohort_week")
    )
    activity = (
        ev.join(cohorted, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(F.col("day"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    sizes = (
        activity.select("user_id", "cohort_week")
        .distinct()
        .groupBy("cohort_week")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )
    return (
        activity.filter(F.col("week_offset") <= 8)
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        # timestamp, not date, on the output (the f10_monthly_revenue
        # idiom): DateType reaches pandas as object while the oracle's
        # DATE fetches as datetime64 — keep both in the datetime family.
        .select(
            F.col("cohort_week").cast("timestamp").alias("cohort_week"),
            "week_offset",
            "n_active",
            F.col("n_users").alias("cohort_size"),
            F.expr("CAST(n_active * 1000000 DIV n_users AS BIGINT)").alias("retention_micro"),
        )
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "ev7_rfm_segmentation",
    """
    WITH cust AS (
        SELECT o_custkey,
               DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE),
                         (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders)) AS rec_days,
               CAST(COUNT(*) AS BIGINT) AS freq,
               SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS mon_cents
        FROM orders GROUP BY o_custkey
    ),
    cuts AS (
        SELECT quantile_cont(rec_days, [0.2, 0.4, 0.6, 0.8]) AS rc,
               quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fc,
               quantile_cont(mon_cents, [0.2, 0.4, 0.6, 0.8]) AS mc
        FROM cust
    )
    SELECT r_score, f_score, m_score, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (
        SELECT 1 + CAST(rec_days > rc[1] AS INT) + CAST(rec_days > rc[2] AS INT)
                 + CAST(rec_days > rc[3] AS INT) + CAST(rec_days > rc[4] AS INT) AS r_score,
               1 + CAST(freq > fc[1] AS INT) + CAST(freq > fc[2] AS INT)
                 + CAST(freq > fc[3] AS INT) + CAST(freq > fc[4] AS INT) AS f_score,
               1 + CAST(mon_cents > mc[1] AS INT) + CAST(mon_cents > mc[2] AS INT)
                 + CAST(mon_cents > mc[3] AS INT) + CAST(mon_cents > mc[4] AS INT) AS m_score
        FROM cust, cuts
    )
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def ev7_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV7: RFM customer segmentation — quintile scores on Recency
    (days since last order, higher = staler), Frequency (order count)
    and Monetary (lifetime cents), then segment population counts.

    Scale shape: one groupBy(custkey) pass builds the RFM triple; the
    four quintile cuts per dimension are ONE exact-percentile aggregate
    producing a single 12-number row that broadcasts back (a23's
    percentile-cuts-broadcast pattern — no global NTILE sort, no
    1-partition window). Threshold scoring (not ranking) means ties
    are handled identically in both engines; percentile interpolation
    on exact integers is bit-identical cross-engine."""
    o = t(spark, sf_dir, "orders")
    max_date = o.agg(F.max(F.to_date("o_orderdate")).alias("gmax"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_date"),
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum(F.floor(F.col("o_totalprice") * 100)).alias("mon_cents"),
        )
        .crossJoin(F.broadcast(max_date))
        .select(
            F.datediff("gmax", "last_date").cast("bigint").alias("rec_days"),
            "freq",
            "mon_cents",
        )
    )
    cuts = cust.agg(
        F.expr("percentile(rec_days, array(0.2, 0.4, 0.6, 0.8))").alias("rc"),
        F.expr("percentile(freq, array(0.2, 0.4, 0.6, 0.8))").alias("fc"),
        F.expr("percentile(mon_cents, array(0.2, 0.4, 0.6, 0.8))").alias("mc"),
    )

    def score(col: str, cuts_col: str) -> F.Column:
        e = F.lit(1)
        for i in range(4):
            e = e + (F.col(col) > F.col(cuts_col)[i]).cast("int")
        return e

    scored = cust.crossJoin(F.broadcast(cuts)).select(
        score("rec_days", "rc").alias("r_score"),
        score("freq", "fc").alias("f_score"),
        score("mon_cents", "mc").alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "ev10_funnel_latency",
    """
    WITH fc AS (
        SELECT user_id, MIN(ts) AS first_click
        FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    fp AS (
        SELECT e.user_id,
               (epoch_us(MIN(e.ts)) - epoch_us(ANY_VALUE(fc.first_click))) // 1000000
                   AS latency_s
        FROM events e JOIN fc ON e.user_id = fc.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= fc.first_click
        GROUP BY e.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(quantile_disc(latency_s, 0.5) AS BIGINT) AS p50_s,
           CAST(quantile_disc(latency_s, 0.9) AS BIGINT) AS p90_s,
           CAST(MAX(latency_s) AS BIGINT) AS max_s
    FROM fp
    """,
)
def ev10_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV10: conversion-latency distribution — per user, whole seconds
    from FIRST click to the first purchase at-or-after it, summarized
    as exact discrete percentiles: the time-to-convert metric product
    funnels report next to ev_funnel_conversion's rates. Two
    first-event aggregates share the user_id shuffle key; latencies are
    exact integer seconds (truncating division of epoch micros);
    percentiles use the GK-with-accuracy>n trick (see
    a6_approx_quantile) so the discrete element matches DuckDB's
    quantile_disc bit-for-bit. Latency lives on a per-user frame
    (bounded by |users|, not events) — at 100 TB the percentile sketch
    is the only structure that sees the full latency vector, at
    O(accuracy log n) memory."""
    ev = t(spark, sf_dir, "events")
    fc = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .where(F.col("ts") >= F.col("first_click"))
        .groupBy("user_id")
        .agg(
            (
                (F.unix_micros(F.min("ts")) - F.unix_micros(F.any_value(F.col("first_click"))))
                / F.lit(1_000_000)
            )
            .cast("bigint")
            .alias("latency_s")
        )
    )
    exact_gk = 10_000_000
    return fp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.percentile_approx("latency_s", 0.5, exact_gk).cast("bigint").alias("p50_s"),
        F.percentile_approx("latency_s", 0.9, exact_gk).cast("bigint").alias("p90_s"),
        F.max("latency_s").cast("bigint").alias("max_s"),
    )


@register(
    "ev11_pareto_concentration",
    """
    WITH per_user AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    cut AS (SELECT CAST(quantile_disc(cents, 0.9) AS BIGINT) AS p90 FROM per_user)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN cents > p90 THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
           CAST(SUM(CASE WHEN cents > p90 THEN cents ELSE 0 END) AS BIGINT) AS top_cents,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           ROUND(CAST(SUM(CASE WHEN cents > p90 THEN cents ELSE 0 END) AS DOUBLE)
                 / SUM(cents), 6) AS top_share
    FROM per_user, cut
    """,
)
def ev11_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV11: revenue-concentration (Pareto) audit — what share of total
    revenue the strictly-above-p90 customers hold: the whale-dependence
    metric behind "80/20" dashboards, and the skew signal that decides
    when x4/x12 salting is worth it. One per-user aggregate, one exact
    discrete p90 (GK accuracy>n, see a6), then a single conditional
    aggregation against the 1-row broadcast cut — exact integer cents
    everywhere, one double division for the share. The strict >
    comparison pins tie semantics identically on both engines."""
    o = t(spark, sf_dir, "orders")
    per_user = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("bigint").alias("cents")
    )
    cut = per_user.agg(
        F.percentile_approx("cents", 0.9, 10_000_000).cast("bigint").alias("p90")
    )
    top = F.when(F.col("cents") > F.col("p90"), F.col("cents")).otherwise(F.lit(0))
    return per_user.crossJoin(F.broadcast(cut)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("cents") > F.col("p90"), 1).otherwise(0)).cast("bigint").alias("n_top"),
        F.sum(top).cast("bigint").alias("top_cents"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.round(F.sum(top).cast("double") / F.sum("cents"), 6).alias("top_share"),
    )


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
