"""Time-series operators over the ``events`` table: calendar gap-fill
(resample to a daily grid) with last-observation-carried-forward.

The reference repo has no time-series surface; this extends the engine
the way a metrics/training-data pipeline needs (regular grids for
windowed models, LOCF for sparse sensors). Spark-first shape:

- the per-user daily grid comes from ``sequence(min_day, max_day)`` +
  ``explode`` — rows are generated distributed, next to the data, not
  on the driver;
- LOCF is ``last(value, ignorenulls=True)`` over an ordered window —
  one shuffle on user_id that the gap-fill join already paid for;
- per-day averages divide exact integer cent sums (see tpch_q7's note
  in queries_functions.py) so the DuckDB oracle matches bit-for-bit.

At 100 TB the grid explode multiplies rows by the span/density ratio —
bounded here (≤ ~1 year per user); for multi-year sparse keys you'd
cap the span or bucket by month first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from realestate_engine.registry import cache_once, input_width, register, t


def _user_recurrence_map(
    ev: DataFrame,
    sf_dir: str,
    fold,
    emit,
    schema: str,
    value_col: str = "value",
    to_v=None,
) -> DataFrame:
    """Order-dependent per-user integer recurrences (EWMA / Holt /
    Holt-Winters) as a partition-streaming mapInPandas — the
    custom_running_total_pandas lesson (r8) applied to this family in
    r14 (guide §4): the grouped applyInPandas form paid one Python
    call + Arrow round-trip per GROUP — 1,500 calls at sf0.1, measured
    2.5-3.4s of pure per-group overhead even for a trivial function
    (millions of calls at 100 TB) — while this form pays ~one call per
    10k-row Arrow batch. The input is hash-partitioned by user_id
    (every user wholly in one partition; explicit width because AQE
    would coalesce the ~MB shuffle to one partition) and sorted within
    partitions by (user_id, ts, event_id), so each user's rows arrive
    contiguously in recurrence order; a per-partition dict carries
    (n_events, state) across Arrow batch boundaries and the per-user
    summary rows are emitted once, after the partition's last batch.
    State stays exact Python ints — bit-identical to the grouped form.

    ``fold(state_or_None, v, rn)`` advances one user's state;
    ``emit(user_id, n, state)`` returns the output row as a tuple in
    ``schema`` column order; ``value_col``/``to_v`` pick and transform
    the observation column (default: the milli-scaled integer floor
    the ts_* recurrences share — m38's Viterbi passes its own)."""
    import math

    cols = [c.strip().split()[0] for c in schema.split(",")]
    if to_v is None:
        to_v = lambda x: int(math.floor(x * 1000))  # noqa: E731

    def run(batches):
        import pandas as pd

        acc: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            uids = pdf["user_id"].to_numpy().tolist()
            vals = pdf[value_col].to_numpy().tolist()
            for u, x in zip(uids, vals):
                v = to_v(x)
                ent = acc.get(u)
                if ent is None:
                    acc[u] = [1, fold(None, v, 1)]
                else:
                    ent[0] += 1
                    ent[1] = fold(ent[1], v, ent[0])
        # Emit in bounded chunks (ADVICE r14): one frame of ALL users
        # would make peak pandas memory scale with distinct users per
        # partition — fine at bench scale, a single giant allocation at
        # the 100 TB scale this family documents. 64k summary rows per
        # frame bounds the peak; row content and order are unchanged.
        items = list(acc.items())
        for i in range(0, len(items), 65536):
            yield pd.DataFrame(
                [emit(u, n, st) for u, (n, st) in items[i : i + 65536]],
                columns=cols,
            )

    # a bytes-derived width with the cores/4 Python floor
    # (registry.input_width): the custom_running_total sweep showed
    # full core-count width only adds near-empty tasks for the
    # per-batch-call form
    n_part = input_width(ev.sparkSession, sf_dir, "events", python_floor=True)
    return (
        ev.repartition(n_part, "user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(run, schema)
    )


@register(
    "ts_gapfill_locf",
    """
    WITH daily AS (
        SELECT user_id, DATE_TRUNC('day', ts) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS val_cents
        FROM events GROUP BY 1, 2
    ),
    cal AS (
        SELECT user_id, UNNEST(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY)) AS day
        FROM daily GROUP BY user_id
    )
    SELECT c.user_id, c.day,
           COALESCE(n_events, 0) AS n_events,
           LAST_VALUE(val_cents * 1.0 / n_events / 100.0 IGNORE NULLS) OVER (
               PARTITION BY c.user_id ORDER BY c.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value_locf
    FROM cal c LEFT JOIN daily USING (user_id, day)
    ORDER BY user_id, day
    """,
)
def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resample per user with zero-filled counts and LOCF'd
    average event value. The observed per-day average divides two exact
    integers (cent sum / event count), so the carried-forward doubles
    are bit-identical across engines."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("val_cents"),
    )
    cal = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cal.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last(
                F.col("val_cents") * 1.0 / F.col("n_events") / 100.0, ignorenulls=True
            )
            .over(w)
            .alias("avg_value_locf"),
        )
        .orderBy("user_id", "day")
    )


@register(
    "ts_sessionize_gap",
    """
    WITH marked AS (
        SELECT user_id, event_id, ts,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
                    OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, event_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        FROM marked
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM numbered
    GROUP BY user_id, session_no
    ORDER BY user_id, session_no
    """,
)
def ts_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in pure window SQL: a >30-minute silence
    opens a new session (running sum of new-session flags numbers them).
    The stateless counterpart of st_session_window — same semantics,
    but expressible on any engine and rollup-friendly. Gap math is done
    in exact integer microseconds on both sides (fractional-second
    epoch doubles vs truncated-second longs would disagree at the
    boundary). Shuffles once on user_id; both windows and the final
    groupBy reuse that partitioning."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0).alias("new_session"),
    )
    numbered = marked.select(
        "user_id", "event_id", "ts", F.sum("new_session").over(run).alias("session_no")
    )
    return (
        numbered.groupBy("user_id", F.col("session_no").cast("bigint").alias("session_no"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_no")
    )


@register(
    "ts_rolling_interval_window",
    """
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w / 100.0 AS value_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def ts_rolling_interval_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 1-hour RANGE frame per user — time-based, not row-based:
    the frame holds every event within the trailing hour regardless of
    how many there are (rowsBetween cannot express this). Both engines
    order by exact integer epoch-microseconds so frame boundaries and
    peer groups agree; the windowed sum is exact integer cents. One
    shuffle on user_id."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        (F.sum(F.round(F.col("value") * 100).cast("bigint")).over(w) / 100.0).alias(
            "value_last_hour"
        ),
    ).orderBy("event_id")


@register(
    "ts_cusum_changepoints",
    """
    WITH m AS (
        SELECT DATE_TRUNC('month', o_orderdate) AS month,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT SUM(cents) AS total, COUNT(*) AS n FROM m),
    c AS (
        SELECT month, cents,
               SUM(cents * tot.n - tot.total) OVER (ORDER BY month) AS cusum_scaled,
               tot.n AS n, tot.total AS total
        FROM m, tot
    )
    SELECT month,
           CAST(cents AS BIGINT) AS cents,
           CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
           ABS(cusum_scaled) * 10 > total * 2 AS is_changepoint
    FROM c
    ORDER BY month
    """,
)
def ts_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS4: CUSUM change-point detection over the monthly revenue
    series — the classic sequential drift localizer: the cumulative sum
    of deviations from the series mean drifts away from zero exactly
    where the level shifts. Kept in EXACT integer arithmetic by scaling
    out the division: cusum_scaled = Σ(n·xᵢ − total) equals
    n·Σ(xᵢ − mean), and the threshold test |cusum|·10 > total·2 is the
    cross-multiplied form of |cusum/n| > 0.2·mean — no floats anywhere,
    so both engines agree bit-for-bit. One rollup + one ordered window
    over O(months) rows (tiny after aggregation)."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")
    )
    tot = m.agg(F.sum("cents").alias("total"), F.count(F.lit(1)).alias("n"))
    # months-sized frame: the running sum is a broadcast non-equi
    # self-join (months² cells, trivial) instead of an unpartitioned
    # window — keeps every plan free of single-partition WindowExec
    mt = m.crossJoin(F.broadcast(tot))
    a = mt.alias("a")
    b = mt.alias("b")
    c = (
        a.join(F.broadcast(b), F.col("b.month") <= F.col("a.month"))
        .groupBy(
            F.col("a.month").alias("month"),
            F.col("a.cents").alias("cents"),
            F.col("a.total").alias("total"),
        )
        .agg(
            F.sum(F.col("b.cents") * F.col("b.n") - F.col("b.total")).alias("cusum_scaled")
        )
    )
    return c.select(
        "month",
        F.col("cents").cast("bigint").alias("cents"),
        F.col("cusum_scaled").cast("bigint").alias("cusum_scaled"),
        (F.abs(F.col("cusum_scaled")) * 10 > F.col("total") * 2).alias("is_changepoint"),
    ).orderBy("month")


@register(
    "ts_ewma_int",
    """
    WITH RECURSIVE seq AS (
        SELECT user_id, event_id,
               CAST(FLOOR(value * 1000) AS BIGINT) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    ew AS (
        SELECT user_id, rn, v AS ewma FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.rn, (e.ewma + s.v) // 2
        FROM ew e JOIN seq s ON s.user_id = e.user_id AND s.rn = e.rn + 1
    )
    SELECT user_id,
           CAST(MAX(rn) AS BIGINT) AS n_events,
           CAST(ARG_MAX(ewma, rn) AS BIGINT) AS ewma_milli
    FROM ew GROUP BY user_id ORDER BY user_id
    """,
)
def ts_ewma_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS5: exponentially-weighted moving average per user (alpha=1/2),
    the classic smoothing/feature op a sequential model pipeline needs.
    EWMA is an order-dependent recurrence — not a commutative aggregate
    — so it cannot be a groupBy.agg; it runs as a partition-streaming
    mapInPandas recurrence (_user_recurrence_map: Python invocations
    scale with partitions × Arrow batches, not with the user count —
    the r14 fix that took this family from 5.5s to ~0.7s warm at
    sf0.1; see the helper's docstring for the measured per-group
    overhead of the previous grouped applyInPandas form).

    Determinism: milli-scaled BIGINT state with `(prev + x) // 2` —
    exact integer halving both engines (values are strictly positive,
    so DuckDB/Spark truncating division and Python floor division
    agree). The oracle states the same recurrence as a RECURSIVE CTE
    stepping row_number within user. A float EWMA would drift by
    summation order and could not be hash-compared."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    return _user_recurrence_map(
        ev,
        sf_dir,
        fold=lambda st, v, rn: v if st is None else (st + v) // 2,
        emit=lambda u, n, st: (u, n, st),
        schema="user_id long, n_events long, ewma_milli long",
    ).orderBy("user_id")


@register(
    "ts_holt_int",
    """
    WITH RECURSIVE seq AS (
        SELECT user_id, event_id,
               CAST(FLOOR(value * 1000) AS BIGINT) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    holt AS (
        SELECT user_id, rn, v AS lvl, CAST(0 AS BIGINT) AS trend FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.rn,
               CAST(FLOOR((h.lvl + h.trend + s.v) / 2.0) AS BIGINT),
               CAST(FLOOR((h.trend + CAST(FLOOR((h.lvl + h.trend + s.v) / 2.0) AS BIGINT) - h.lvl) / 2.0) AS BIGINT)
        FROM holt h JOIN seq s ON s.user_id = h.user_id AND s.rn = h.rn + 1
    )
    SELECT user_id,
           CAST(MAX(rn) AS BIGINT) AS n_events,
           CAST(ARG_MAX(lvl, rn) AS BIGINT) AS level_milli,
           CAST(ARG_MAX(trend, rn) AS BIGINT) AS trend_milli,
           CAST(ARG_MAX(lvl, rn) + ARG_MAX(trend, rn) AS BIGINT) AS forecast_milli
    FROM holt GROUP BY user_id ORDER BY user_id
    """,
)
def ts_holt_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS6: Holt double-exponential smoothing per user (alpha = beta =
    1/2) — EWMA (ts_ewma_int) plus a TREND component, the classic
    short-horizon forecaster: level_t = (level+trend+v)/2,
    trend_t = (trend + level_t - level_{t-1})/2, forecast = level +
    trend. Same execution shape as the EWMA: the recurrence is
    order-dependent, so it runs as the partition-streaming
    _user_recurrence_map (r14; invocations scale with partitions ×
    Arrow batches, not users), and the oracle replays the identical
    recurrence as a recursive CTE over row_number order.

    Determinism: milli-scaled BIGINT state. Trend can go NEGATIVE, so
    halving uses Python floor division mirrored as
    FLOOR(x / 2.0)::BIGINT in DuckDB — DuckDB's integer `//` truncates
    toward zero and would diverge on negative odd values (the sign
    trap ts_ewma_int never hits because its values stay positive)."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")

    def fold(st, v, rn):
        if st is None:
            return (v, 0)
        lvl, trend = st
        new_lvl = (lvl + trend + v) // 2
        return (new_lvl, (trend + new_lvl - lvl) // 2)

    return _user_recurrence_map(
        ev,
        sf_dir,
        fold=fold,
        emit=lambda u, n, st: (u, n, st[0], st[1], st[0] + st[1]),
        schema="user_id long, n_events long, level_milli long, trend_milli long, forecast_milli long",
    ).orderBy("user_id")


@register(
    "ts8_holt_winters_int",
    """
    WITH RECURSIVE seq AS (
        SELECT user_id, event_id,
               CAST(FLOOR(value * 1000) AS BIGINT) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    hw AS (
        SELECT user_id, rn, v AS lvl, CAST(0 AS BIGINT) AS trend,
               CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS s1,
               CAST(0 AS BIGINT) AS s2, CAST(0 AS BIGINT) AS s3
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.rn,
               CAST(FLOOR((s.v
                    - CASE (s.rn - 1) % 4 WHEN 0 THEN h.s0 WHEN 1 THEN h.s1
                                          WHEN 2 THEN h.s2 ELSE h.s3 END
                    + h.lvl + h.trend) / 2.0) AS BIGINT) AS lvl,
               CAST(FLOOR((h.trend
                    + CAST(FLOOR((s.v
                        - CASE (s.rn - 1) % 4 WHEN 0 THEN h.s0 WHEN 1 THEN h.s1
                                              WHEN 2 THEN h.s2 ELSE h.s3 END
                        + h.lvl + h.trend) / 2.0) AS BIGINT)
                    - h.lvl) / 2.0) AS BIGINT) AS trend,
               CASE WHEN (s.rn - 1) % 4 = 0 THEN CAST(FLOOR((s.v
                        - CAST(FLOOR((s.v - h.s0 + h.lvl + h.trend) / 2.0) AS BIGINT)
                        + h.s0) / 2.0) AS BIGINT) ELSE h.s0 END AS s0,
               CASE WHEN (s.rn - 1) % 4 = 1 THEN CAST(FLOOR((s.v
                        - CAST(FLOOR((s.v - h.s1 + h.lvl + h.trend) / 2.0) AS BIGINT)
                        + h.s1) / 2.0) AS BIGINT) ELSE h.s1 END AS s1,
               CASE WHEN (s.rn - 1) % 4 = 2 THEN CAST(FLOOR((s.v
                        - CAST(FLOOR((s.v - h.s2 + h.lvl + h.trend) / 2.0) AS BIGINT)
                        + h.s2) / 2.0) AS BIGINT) ELSE h.s2 END AS s2,
               CASE WHEN (s.rn - 1) % 4 = 3 THEN CAST(FLOOR((s.v
                        - CAST(FLOOR((s.v - h.s3 + h.lvl + h.trend) / 2.0) AS BIGINT)
                        + h.s3) / 2.0) AS BIGINT) ELSE h.s3 END AS s3
        FROM hw h JOIN seq s ON s.user_id = h.user_id AND s.rn = h.rn + 1
    )
    SELECT user_id,
           CAST(MAX(rn) AS BIGINT) AS n_events,
           CAST(ARG_MAX(lvl, rn) AS BIGINT) AS level_milli,
           CAST(ARG_MAX(trend, rn) AS BIGINT) AS trend_milli,
           CAST(ARG_MAX(lvl, rn) + ARG_MAX(trend, rn)
                + CASE MAX(rn) % 4 WHEN 0 THEN ARG_MAX(s0, rn) WHEN 1 THEN ARG_MAX(s1, rn)
                                   WHEN 2 THEN ARG_MAX(s2, rn) ELSE ARG_MAX(s3, rn) END
                AS BIGINT) AS forecast_milli
    FROM hw GROUP BY user_id ORDER BY user_id
    """,
)
def ts8_holt_winters_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS8: additive Holt-Winters per user (alpha = beta = gamma = 1/2,
    season length 4) — ts_holt_int plus a SEASONAL component, the full
    classical triple: level_t = (v − s_i + level + trend)/2,
    trend_t = (trend + level_t − level)/2, s_i' = (v − level_t + s_i)/2
    with i = (t−1) mod 4, cold-started at s = 0 so the seasonal
    profile is LEARNED from the data (deterministic, no init heuristic
    to mirror). Forecast = level + trend + s_{next}. Execution shape
    as its siblings: the partition-streaming _user_recurrence_map
    (r14; invocations scale with partitions × Arrow batches, not
    users), and the oracle replays the identical recurrence as a
    recursive CTE threading all four seasonal states as rotating
    columns. All state milli-scaled BIGINT; every halving is
    FLOOR(x/2.0) (the ts_holt negative-odd sign rule — seasonals and
    trend go negative)."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")

    def fold(st, v, rn):
        if st is None:
            return (v, 0, (0, 0, 0, 0))
        lvl, trend, season = st
        i = (rn - 1) % 4
        s = list(season)
        new_lvl = (v - s[i] + lvl + trend) // 2
        trend = (trend + new_lvl - lvl) // 2
        s[i] = (v - new_lvl + s[i]) // 2
        return (new_lvl, trend, tuple(s))

    def emit(u, n, st):
        lvl, trend, season = st
        return (u, n, lvl, trend, lvl + trend + season[n % 4])

    return _user_recurrence_map(
        ev,
        sf_dir,
        fold=fold,
        emit=emit,
        schema="user_id long, n_events long, level_milli long, trend_milli long, forecast_milli long",
    ).orderBy("user_id")


def daily_milli_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily event-value series before its aggregate: one
    (day_idx, v) row per event, where day_idx counts days from
    2024-01-01 (calendar-free) and v is the event value FLOOR-milli'd
    BEFORE any summation — BIGINT sums are order-free where a double
    sum is not, so every daily total is exact on both engines. Each
    consumer keeps its own aggregate over it (sum, sum + count, or the
    ts20 DIV 1e5 rescale); the raw scan collapses to one row per day
    FIRST (a hash agg — at 100 TB the daily frame is O(years) ~ 1e3
    rows), and everything after runs on that tiny frame.

    The oracle is _DAILY_CTE: one `daily` CTE carrying the daily sum v
    and event count n, which each oracle aliases as it needs. Read by
    ts9-ts11, ts13-ts19 and ts20_haar_energy."""
    return t(spark, sf_dir, "events").select(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day_idx"),
        F.floor(F.col("value") * 1000).cast("bigint").alias("v"),
    )


def centered_daily(daily: DataFrame) -> DataFrame:
    """The daily series (day_idx, v) centered on its integer-floor
    global mean: (day_idx, d = v - sum(v) div count). Centering BEFORE
    any product keeps deviation products exact BIGINT at every SF (the
    ev17 overflow lesson: the uncentered n*sxy - sx*sy form crosses
    2^63 once daily totals reach ~1e10 milli). The oracle is
    _CENTERED_CTES (mu, dev). Read by ts10, ts13, ts14 and ts19."""
    mu = daily.agg(F.expr("sum(v) div count(*)").alias("m"))
    return daily.crossJoin(F.broadcast(mu)).select(
        "day_idx", (F.col("v") - F.col("m")).alias("d")
    )


_DAILY_CTE = """
    WITH daily AS (
        SELECT DATE_DIFF('day', DATE '2024-01-01', ts::DATE) AS day_idx,
               SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS v,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    )"""

_CENTERED_CTES = """,
    mu AS (SELECT SUM(v) // COUNT(*) AS m FROM daily),
    dev AS (SELECT day_idx, v - mu.m AS d FROM daily, mu)"""


def seasonal_decomposition(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Classical additive decomposition of the daily series, shared by
    ts9 and ts11: the daily totals (day_idx, v) over
    daily_milli_events; the detrended days (day_idx, dow, v, tr, d)
    where tr is the centered 7-day moving average (full windows only,
    an integer division), dow = day_idx % 7 (calendar-free) and
    d = v - tr; and the weekly seasonal index (dow, n_days, s), s the
    integer mean of d per dow. The +/-3-day band self-join runs on the
    tiny broadcast daily frame — deliberately chosen over an
    unpartitioned ordered window, which would funnel the series
    through one task (DESIGN.md no-global-window invariant). The
    oracle is _DECOMPOSITION_CTES after _DAILY_CTE."""
    daily = daily_milli_events(spark, sf_dir).groupBy("day_idx").agg(F.sum("v").alias("v"))
    a, b = daily.alias("a"), daily.alias("b")
    trend = (
        a.join(
            F.broadcast(b),
            (F.col("b.day_idx") >= F.col("a.day_idx") - 3)
            & (F.col("b.day_idx") <= F.col("a.day_idx") + 3),
        )
        .groupBy(F.col("a.day_idx").alias("day_idx"), F.col("a.v").alias("v"))
        .agg(F.when(F.count(F.col("b.day_idx")) == 7, F.expr("sum(b.v) div 7")).alias("tr"))
    )
    detr = trend.where(F.col("tr").isNotNull()).select(
        "day_idx", (F.col("day_idx") % 7).alias("dow"), "v", "tr",
        (F.col("v") - F.col("tr")).alias("d"),
    )
    seasonal = detr.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr("sum(d) div count(*)").alias("s"),
    )
    return daily, detr, seasonal


_DECOMPOSITION_CTES = """,
    trend AS (
        SELECT a.day_idx, a.v,
               CASE WHEN COUNT(b.day_idx) = 7 THEN SUM(b.v) // 7 END AS tr
        FROM daily a JOIN daily b
          ON b.day_idx BETWEEN a.day_idx - 3 AND a.day_idx + 3
        GROUP BY a.day_idx, a.v
    ),
    detr AS (
        SELECT day_idx, day_idx % 7 AS dow, v, tr, v - tr AS d
        FROM trend WHERE tr IS NOT NULL
    ),
    seasonal AS (
        SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days, SUM(d) // COUNT(*) AS s
        FROM detr GROUP BY dow
    )"""


@register(
    "ts9_seasonal_decompose",
    _DAILY_CTE + _DECOMPOSITION_CTES + """
    SELECT CAST(s.dow AS BIGINT) AS dow, s.n_days,
           CAST(s.s AS BIGINT) AS seasonal_milli,
           CAST(SUM(ABS(d.d - s.s)) // s.n_days AS BIGINT) AS mad_remainder_milli
    FROM seasonal s JOIN detr d ON d.dow = s.dow
    GROUP BY s.dow, s.n_days, s.s
    ORDER BY s.dow
    """,
)
def ts9_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS9: classical additive seasonal decomposition of the daily
    event-value series — centered 7-day moving-average trend (full
    windows only), detrend, weekly seasonal index per day-of-week
    (day_idx % 7, calendar-free), and the mean absolute remainder as
    the decomposition-quality metric, over seasonal_decomposition."""
    _, detr, seasonal = seasonal_decomposition(spark, sf_dir)
    return (
        detr.join(F.broadcast(seasonal), "dow")
        .groupBy("dow", "n_days", F.col("s"))
        .agg(
            F.expr("sum(abs(d - s)) div n_days")
            .cast("bigint")
            .alias("mad_remainder_milli")
        )
        .select(
            F.col("dow").cast("bigint").alias("dow"),
            "n_days",
            F.col("s").cast("bigint").alias("seasonal_milli"),
            "mad_remainder_milli",
        )
        .orderBy("dow")
    )


@register(
    "ts10_autocorrelation",
    _DAILY_CTE + _CENTERED_CTES + """,
    den AS (SELECT SUM(d * d) AS ss FROM dev),
    lags AS (SELECT UNNEST(RANGE(1, 8)) AS lag),
    num AS (
        SELECT l.lag, COUNT(*) AS n, SUM(a.d * b.d) AS sxy
        FROM dev a
        JOIN lags l ON TRUE
        JOIN dev b ON b.day_idx = a.day_idx + l.lag
        GROUP BY l.lag
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           CAST(FLOOR(CAST(sxy AS DOUBLE) / CAST(den.ss AS DOUBLE) * 1000000)
                AS BIGINT) AS acf_micro
    FROM num, den ORDER BY lag
    """,
)
def ts10_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS10: sample autocorrelation of the daily event-value series at
    lags 1..7 — the diagnostic that motivates ts9's seasonal model
    (weekly data shows an ACF peak at lag 7), over centered_daily, so
    deviation products stay exact BIGINT at every SF; the classical
    estimator
    r_k = sum(d_t d_{t+k}) / sum(d^2) is then ONE IEEE division
    FLOORed to micros. Lag pairs come from an EQUI-join (lag exploded
    onto one side, key = day_idx + lag) — no banded nested loop. At
    100 TB the raw scan collapses to O(days) rows first; everything
    after is arithmetic on a KB frame."""
    daily = daily_milli_events(spark, sf_dir).groupBy("day_idx").agg(F.sum("v").alias("v"))
    dev = centered_daily(daily)
    den = dev.agg(F.sum(F.col("d") * F.col("d")).alias("ss"))
    a = dev.withColumn("lag", F.explode(F.array(*[F.lit(k) for k in range(1, 8)])))
    b = dev.select(F.col("day_idx").alias("b_day"), F.col("d").alias("bd"))
    num = (
        a.join(F.broadcast(b), F.col("b_day") == F.col("day_idx") + F.col("lag"))
        .groupBy("lag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("d") * F.col("bd")).alias("sxy"))
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("bigint").alias("lag"),
            F.col("n").cast("bigint").alias("n_pairs"),
            F.expr(
                "CAST(FLOOR(CAST(sxy AS DOUBLE) / CAST(ss AS DOUBLE) * 1000000) AS BIGINT)"
            ).alias("acf_micro"),
        )
        .orderBy("lag")
    )


@register(
    "ts11_decomposition_strength",
    _DAILY_CTE + _DECOMPOSITION_CTES + """,
    mu AS (SELECT SUM(v) // COUNT(*) AS m FROM daily),
    parts AS (
        SELECT d.d, d.d - se.s AS r,
               d.tr + (d.d - se.s) - mu.m AS sa_c
        FROM detr d JOIN seasonal se ON se.dow = d.dow, mu
    ),
    moms AS (
        SELECT COUNT(*) AS n,
               SUM(r) AS s_r, SUM(r * r) AS ss_r,
               SUM(d) AS s_d, SUM(d * d) AS ss_d,
               SUM(sa_c) AS s_sa, SUM(sa_c * sa_c) AS ss_sa
        FROM parts
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(GREATEST(0, FLOOR((1.0 - CAST(n * ss_r - s_r * s_r AS DOUBLE)
                / CAST(n * ss_sa - s_sa * s_sa AS DOUBLE)) * 1000000))
                AS BIGINT) AS trend_strength_micro,
           CAST(GREATEST(0, FLOOR((1.0 - CAST(n * ss_r - s_r * s_r AS DOUBLE)
                / CAST(n * ss_d - s_d * s_d AS DOUBLE)) * 1000000))
                AS BIGINT) AS seasonal_strength_micro
    FROM moms
    """,
)
def ts11_decomposition_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS11: trend and seasonal STRENGTH (Wang/Smith/Hyndman's feature
    pair: 1 - Var(remainder)/Var(seasonally-adjusted) and
    1 - Var(remainder)/Var(detrended)) computed from the ts9
    decomposition — the two numbers a forecasting pipeline uses to
    ROUTE series (strong-seasonal -> ts8 Holt-Winters, strong-trend ->
    ts_holt, neither -> ts_ewma). Variances use the scaled integer
    moment form (n*SS - S^2, exact BIGINT on the O(days) frame), each
    strength is one IEEE division inside GREATEST(0, FLOOR(...)) —
    deterministic cross-engine. Same no-funnel band-join discipline
    as ts9; the whole statistic is metadata-sized after the daily
    collapse."""
    daily, detr, seasonal = seasonal_decomposition(spark, sf_dir)
    # center the seasonally-adjusted series on the global daily mean
    # BEFORE the moment pass (the ts10/ev17 overflow rule: full-
    # magnitude daily totals squared cross 2^63 at sf0.1; variance is
    # translation-invariant, so any constant shift is free)
    mu = daily.agg(F.expr("sum(v) div count(*)").alias("m"))
    parts = (
        detr.join(F.broadcast(seasonal), "dow")
        .crossJoin(F.broadcast(mu))
        .select(
            "d",
            (F.col("d") - F.col("s")).alias("r"),
            (F.col("tr") + (F.col("d") - F.col("s")) - F.col("m")).alias("sa_c"),
        )
    )
    moms = parts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("s_r"),
        F.sum(F.col("r") * F.col("r")).alias("ss_r"),
        F.sum("d").alias("s_d"),
        F.sum(F.col("d") * F.col("d")).alias("ss_d"),
        F.sum("sa_c").alias("s_sa"),
        F.sum(F.col("sa_c") * F.col("sa_c")).alias("ss_sa"),
    )
    return moms.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.expr(
            "CAST(GREATEST(0, FLOOR((1.0 - CAST(n * ss_r - s_r * s_r AS DOUBLE)"
            " / CAST(n * ss_sa - s_sa * s_sa AS DOUBLE)) * 1000000)) AS BIGINT)"
        ).alias("trend_strength_micro"),
        F.expr(
            "CAST(GREATEST(0, FLOOR((1.0 - CAST(n * ss_r - s_r * s_r AS DOUBLE)"
            " / CAST(n * ss_d - s_d * s_d AS DOUBLE)) * 1000000)) AS BIGINT)"
        ).alias("seasonal_strength_micro"),
    )


@register(
    "ts12_cusum_changepoint",
    """
    WITH base AS (
        SELECT user_id, event_id, ts,
               CAST(FLOOR(value * 1000) AS BIGINT) AS v
        FROM events
    ),
    tot AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s
        FROM base GROUP BY user_id
    ),
    pre AS (
        SELECT b.user_id, b.event_id, b.ts, t.n, t.s,
               CAST(t.n * SUM(b.v) OVER w
                    - ROW_NUMBER() OVER w * t.s AS BIGINT) AS p
        FROM base b JOIN tot t USING (user_id)
        WINDOW w AS (PARTITION BY b.user_id ORDER BY b.ts, b.event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    stat AS (
        SELECT user_id, event_id, ts, n,
               CAST(p - LEAST(MIN(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT)
                   AS cusum
        FROM pre
    )
    SELECT user_id, n AS n_events,
           CAST(cusum AS BIGINT) AS cusum_max_times_n,
           event_id AS changepoint_event_id
    FROM stat
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY cusum DESC, ts, event_id) = 1
    ORDER BY user_id
    """,
)
def ts12_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM changepoint scan in closed form: the classic
    recursion S_i = max(0, S_{i-1} + (x_i - mean)) equals
    P_i - min_{0<=j<=i} P_j for prefix sums P of the mean-centered
    series (P_0 = 0, the empty prefix, included via LEAST(min, 0)),
    so the scan is two partitioned window passes (prefix sum + running
    min), NOT a recursive loop. Centering is exact-integer: deviations
    are scaled by the per-user count (n*x_i - sum), so the emitted
    statistic is n times the classic milli-unit CUSUM — BIGINT
    throughout, no float mean. The changepoint is the earliest event
    attaining the per-user maximum.

    Plan: one groupBy for per-user (n, sum) joined back (shuffle on
    user_id reused by both windows via the same partitioning), then a
    partitioned argmax window. Nothing is unpartitioned; at 100 TB the
    cost is two sorts of each user's slice, the shape streaming CUSUM
    monitors (x14 time-weighted averages, st_stateful running totals)
    compose with."""
    ev = t(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_id", "ts", F.floor(F.col("value") * 1000).cast("bigint").alias("v")
    )
    tot = base.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("v").cast("bigint").alias("s")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = base.join(tot, "user_id").withColumn(
        "p",
        (
            F.col("n") * F.sum("v").over(w)
            - F.row_number().over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
            * F.col("s")
        ).cast("bigint"),
    )
    stat = pre.withColumn(
        "cusum", (F.col("p") - F.least(F.min("p").over(w), F.lit(0))).cast("bigint")
    )
    pick = Window.partitionBy("user_id").orderBy(F.col("cusum").desc(), "ts", "event_id")
    return (
        stat.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            F.col("cusum").alias("cusum_max_times_n"),
            F.col("event_id").alias("changepoint_event_id"),
        )
        .orderBy("user_id")
    )


# chi-square 95% critical values for df 1..7, in nano units — one
# shared literal CASE used verbatim on both engines (the constants are
# data, not arithmetic: any shared rounding of chi2.ppf(0.95, df) works
# as long as the TEXT is identical on both sides).
def _lb_crit_nano(col: str) -> str:
    return (
        f"CASE {col} WHEN 1 THEN 3841458821 WHEN 2 THEN 5991464547"
        " WHEN 3 THEN 7814727903 WHEN 4 THEN 9487729037"
        " WHEN 5 THEN 11070497693 WHEN 6 THEN 12591587244"
        " ELSE 14067140449 END"
    )

_TS13_ORACLE = _DAILY_CTE + _CENTERED_CTES + f""",
    nn AS (SELECT COUNT(*) AS n FROM daily),
    den AS (SELECT SUM(d * d) AS ss FROM dev),
    lags AS (SELECT UNNEST(RANGE(1, 8)) AS lag),
    num AS (
        SELECT l.lag, COUNT(*) AS n_pairs, SUM(a.d * b.d) AS sxy
        FROM dev a
        JOIN lags l ON TRUE
        JOIN dev b ON b.day_idx = a.day_idx + l.lag
        GROUP BY l.lag
    ),
    acf AS (
        SELECT lag, n_pairs,
               CAST(FLOOR(CAST(sxy AS DOUBLE) / CAST(den.ss AS DOUBLE)
                          * 1000000) AS BIGINT) AS acf_micro
        FROM num, den
    ),
    terms AS (
        SELECT lag, n_pairs, acf_micro,
               CAST(nn.n * (nn.n + 2) * acf_micro * acf_micro
                    // (nn.n - lag) // 1000 AS BIGINT) AS lb_term_nano
        FROM acf, nn
    )
    SELECT CAST(a.lag AS BIGINT) AS lag,
           CAST(a.n_pairs AS BIGINT) AS n_pairs,
           a.acf_micro,
           a.lb_term_nano,
           CAST(SUM(b.lb_term_nano) AS BIGINT) AS lb_q_nano,
           CAST({_lb_crit_nano("a.lag")} AS BIGINT) AS chi2_crit_nano,
           CAST(CASE WHEN SUM(b.lb_term_nano) > {_lb_crit_nano("a.lag")}
                THEN 1 ELSE 0 END AS BIGINT) AS reject_h0
    FROM terms a JOIN terms b ON b.lag <= a.lag
    GROUP BY a.lag, a.n_pairs, a.acf_micro, a.lb_term_nano
    ORDER BY lag
"""


@register("ts13_ljung_box", _TS13_ORACLE)
def ts13_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS13: Ljung-Box portmanteau test on the daily event-value
    series — Q(K) = n(n+2) * sum_{{k<=K}} r_k^2/(n-k) for K = 1..7,
    each compared against the chi-square 95% critical value at df = K.
    This is the HYPOTHESIS TEST the ts10 ACF diagnostic feeds ("is
    there ANY autocorrelation up to lag K"), the standard residual
    whiteness check after fitting ts8/ts9-style models. Builds the
    identical centered-deviation ACF as ts10 (integer-mean centering
    before any product — the overflow rule; one IEEE division FLOORed
    to micros), then every Ljung-Box term is ALL-INTEGER:
    n(n+2)*r_micro^2 // (n-k) // 1000 stays under 2^63 for any series
    shorter than ~2.9M days, and the cumulative Q is a sum of floored
    BIGINTs over a 7-row frame (broadcast non-equi prefix self-join, no
    unpartitioned window). At 100 TB the raw scan collapses to O(days)
    rows in the first agg; everything after is arithmetic on a KB
    frame. Critical values are shared literal constants
    (_lb_crit_nano) on both engines."""
    daily = daily_milli_events(spark, sf_dir).groupBy("day_idx").agg(F.sum("v").alias("v"))
    nn = daily.agg(F.count(F.lit(1)).alias("n"))
    dev = centered_daily(daily)
    den = dev.agg(F.sum(F.col("d") * F.col("d")).alias("ss"))
    a = dev.withColumn("lag", F.explode(F.array(*[F.lit(k) for k in range(1, 8)])))
    b = dev.select(F.col("day_idx").alias("b_day"), F.col("d").alias("bd"))
    num = (
        a.join(F.broadcast(b), F.col("b_day") == F.col("day_idx") + F.col("lag"))
        .groupBy("lag")
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum(F.col("d") * F.col("bd")).alias("sxy"))
    )
    acf = (
        num.crossJoin(F.broadcast(den))
        .select(
            "lag",
            "n_pairs",
            F.expr(
                "CAST(FLOOR(CAST(sxy AS DOUBLE) / CAST(ss AS DOUBLE) * 1000000) AS BIGINT)"
            ).alias("acf_micro"),
        )
    )
    terms = acf.crossJoin(F.broadcast(nn)).select(
        "lag",
        "n_pairs",
        "acf_micro",
        F.expr(
            "CAST(n * (n + 2) * acf_micro * acf_micro DIV (n - lag) DIV 1000 AS BIGINT)"
        ).alias("lb_term_nano"),
    )
    bterms = terms.select(
        F.col("lag").alias("b_lag"), F.col("lb_term_nano").alias("b_term")
    )
    return (
        terms.join(F.broadcast(bterms), F.col("b_lag") <= F.col("lag"))
        .groupBy("lag", "n_pairs", "acf_micro", "lb_term_nano")
        .agg(F.sum("b_term").cast("bigint").alias("lb_q_nano"))
        .select(
            F.col("lag").cast("bigint").alias("lag"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            "acf_micro",
            "lb_term_nano",
            "lb_q_nano",
            F.expr(f"CAST({_lb_crit_nano('lag')} AS BIGINT)").alias("chi2_crit_nano"),
            F.expr(
                f"CAST(CASE WHEN lb_q_nano > {_lb_crit_nano('lag')} THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("reject_h0"),
        )
        .orderBy("lag")
    )


# Per-phase between-group square term of the folding strength, ONE
# shared SQL text. s_k (sum of centered milli deviations in one phase
# bucket) can reach ~2.6e10 at sf0.1, so s_k^2*1e6 crosses 2^63 — the
# square runs on doubles (identical text both engines; identical
# rounding even past 2^53 because BOTH compute the same double).
_TS14_SQ_TERM = (
    "CAST(FLOOR(CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE)"
    " / CAST(nk AS DOUBLE)) AS BIGINT)"
)

_TS14_STRENGTH = (
    "CAST(FLOOR(CAST(ssb AS DOUBLE)"
    " / CAST(sst AS DOUBLE) * 1000000) AS BIGINT)"
)

_TS14_ORACLE = _DAILY_CTE + _CENTERED_CTES + f""",
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(d) AS BIGINT) AS s_tot,
               CAST(SUM(d * d) AS BIGINT) AS sst
        FROM dev
    ),
    periods AS (SELECT UNNEST(RANGE(2, 15)) AS p),
    folded AS (
        SELECT p.p, dev.day_idx % p.p AS phase,
               CAST(COUNT(*) AS BIGINT) AS nk,
               CAST(SUM(dev.d) AS BIGINT) AS sk
        FROM dev JOIN periods p ON TRUE
        GROUP BY 1, 2
    ),
    ssb AS (
        SELECT p,
               CAST(SUM({_TS14_SQ_TERM}) AS BIGINT)
                 - CAST(FLOOR(CAST(ANY_VALUE(tot.s_tot) AS DOUBLE)
                              * CAST(ANY_VALUE(tot.s_tot) AS DOUBLE)
                              / CAST(ANY_VALUE(tot.n_days) AS DOUBLE))
                        AS BIGINT) AS ssb
        FROM folded, tot GROUP BY p
    )
    SELECT CAST(s.p AS BIGINT) AS period,
           t.n_days,
           s.ssb,
           t.sst,
           {_TS14_STRENGTH} AS strength_micro
    FROM ssb s, tot t
    ORDER BY period
"""


@register("ts14_phase_folding_periodogram", _TS14_ORACLE)
def ts14_phase_folding_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS14: phase-folding periodogram — period DETECTION for the daily
    event-value series: fold the centered series by every candidate
    period p = 2..14 and score each by the ANOVA between-phase share
    SSB/SST (the fraction of variance the folding explains; the true
    weekly cycle peaks at p = 7 and its harmonic 14). Complements
    ts10/ts13 (ACF measures lag SIMILARITY, folding measures phase
    STRUCTURE — it finds periods whose profile is not sinusoidal) and
    ts11 (which assumes the period is known). Chosen over a Fourier
    periodogram DELIBERATELY: cos/sin are not guaranteed identically
    rounded across the JVM and DuckDB's libm, while folding is pure
    integer arithmetic — counts, sums of centered milli deviations
    (the ts10 centering rule), per-phase floored square terms — with
    only same-text double chains at the end (_TS14_SQ_TERM runs the
    one BIGINT-overflowing square on doubles). Scale: the scan collapses to
    O(days) rows once; the 13-period fan-out multiplies a KB frame,
    never the corpus."""
    daily = daily_milli_events(spark, sf_dir).groupBy("day_idx").agg(F.sum("v").alias("v"))
    dev = centered_daily(daily)
    tot = dev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("d").cast("bigint").alias("s_tot"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sst"),
    )
    folded = (
        dev.withColumn("p", F.explode(F.array(*[F.lit(k) for k in range(2, 15)])))
        .groupBy("p", (F.col("day_idx") % F.col("p")).alias("phase"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nk"),
            F.sum("d").cast("bigint").alias("sk"),
        )
    )
    ssb = (
        folded.crossJoin(F.broadcast(tot))
        .groupBy("p")
        .agg(
            (
                F.sum(F.expr(_TS14_SQ_TERM))
                - F.expr(
                    "CAST(FLOOR(CAST(ANY_VALUE(s_tot) AS DOUBLE)"
                    " * CAST(ANY_VALUE(s_tot) AS DOUBLE)"
                    " / CAST(ANY_VALUE(n_days) AS DOUBLE)) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("ssb")
        )
    )
    return (
        ssb.crossJoin(F.broadcast(tot))
        .select(
            F.col("p").cast("bigint").alias("period"),
            "n_days",
            "ssb",
            "sst",
            F.expr(_TS14_STRENGTH).alias("strength_micro"),
        )
        .orderBy("period")
    )


# Mann-Kendall z with continuity correction, ONE shared SQL text over
# exact BIGINT inputs (S and 18*var): the sign split and the single
# sqrt/divide/FLOOR chain are the only floating point.
_TS15_Z = (
    "CAST(CASE WHEN var18 <= 0 OR s_stat = 0 THEN 0 ELSE"
    " FLOOR((CAST(s_stat AS DOUBLE)"
    " - CASE WHEN s_stat > 0 THEN 1 ELSE -1 END)"
    " / SQRT(CAST(var18 AS DOUBLE) / 18) * 1000000) END AS BIGINT)"
)

_TS15_ORACLE = _DAILY_CTE + f""",
    s AS (
        SELECT CAST(SUM(CASE WHEN b.v > a.v THEN 1
                             WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT)
                   AS s_stat
        FROM daily a JOIN daily b ON b.day_idx > a.day_idx
    ),
    ties AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tie_groups,
               CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                   AS tie_corr
        FROM (SELECT COUNT(*) AS t FROM daily GROUP BY v HAVING COUNT(*) > 1)
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    fin AS (
        SELECT nn.n AS n_days, s.s_stat, ties.n_tie_groups,
               CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_corr
                    AS BIGINT) AS var18
        FROM s, ties, nn
    )
    SELECT n_days, s_stat, n_tie_groups, var18,
           {_TS15_Z} AS z_micro,
           CAST(CASE WHEN ABS({_TS15_Z}) > 1959964 THEN 1 ELSE 0 END
                AS BIGINT) AS reject_h0
    FROM fin
"""


@register("ts15_mann_kendall", _TS15_ORACLE)
def ts15_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS15: Mann-Kendall trend test on the daily event-value series —
    the significance companion to ts7's Theil-Sen slope (ts7 ESTIMATES
    the trend, nothing TESTED it): S = sum of sign(v_j - v_i) over
    ordered day pairs, variance with the exact tie correction, z with
    continuity correction vs the two-sided 5% normal critical value.
    Exactness: S and 18*var are pure BIGINT (the sign census and the
    t(t-1)(2t+5) tie sum never see a float); the one sqrt/divide chain
    is the shared _TS15_Z text. Scale: the scan collapses to O(days)
    rows first (the ts10 shape); the day-pair sign census is a
    broadcast non-equi self-join over that ~365-row ledger —
    O(days^2) of a KB frame, never a subjects-sized product. Bound:
    var18 = n(n-1)(2n+5) crosses 2^63 at ~1.66M days (4500 years of
    daily data) — not a realistic ceiling."""
    daily = cache_once(
        daily_milli_events(spark, sf_dir).groupBy("day_idx").agg(F.sum("v").alias("v"))
    )
    b = daily.select(F.col("day_idx").alias("b_day"), F.col("v").alias("b_v"))
    s = daily.join(F.broadcast(b), F.col("b_day") > F.col("day_idx")).agg(
        F.sum(
            F.when(F.col("b_v") > F.col("v"), 1)
            .when(F.col("b_v") < F.col("v"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    ties = (
        daily.groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tie_groups"),
            F.coalesce(
                F.sum(F.expr("t * (t - 1) * (2 * t + 5)")), F.lit(0)
            )
            .cast("bigint")
            .alias("tie_corr"),
        )
    )
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    fin = (
        s.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("n").alias("n_days"),
            "s_stat",
            "n_tie_groups",
            F.expr("CAST(n * (n - 1) * (2 * n + 5) - tie_corr AS BIGINT)").alias(
                "var18"
            ),
        )
    )
    return fin.select(
        "n_days",
        "s_stat",
        "n_tie_groups",
        "var18",
        F.expr(_TS15_Z).alias("z_micro"),
        F.expr(
            f"CAST(CASE WHEN ABS({_TS15_Z}) > 1959964 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_h0"),
    )


# --- TS16: Granger causality (lag-1, exact-moment OLS F-test) -----------------

# Cramer solution of the 3x3 normal equations on FLOOR-CENTERED data
# (the ev17/ts10 overflow lesson: center on integer-floor means BEFORE
# any product, so every moment is a deviation sum that stays BIGINT at
# any SF; shifting response/regressors by constants only moves the
# intercept, so slopes, residuals, RSS and F are EXACTLY the raw-fit
# values). Moments are cast to DOUBLE once in the frame (correctly
# rounded, identical both engines); the determinants run in one fixed
# IEEE chain.
_G_DET = (
    "(nd * (m11 * m22 - m12 * m12) - a1 * (a1 * m22 - m12 * a2)"
    " + a2 * (a1 * m12 - m11 * a2))"
)
_G_B0 = (
    "((c0 * (m11 * m22 - m12 * m12) - a1 * (c1 * m22 - m12 * c2)"
    f" + a2 * (c1 * m12 - m11 * c2)) / {_G_DET})"
)
_G_B1 = (
    "((nd * (c1 * m22 - m12 * c2) - c0 * (a1 * m22 - m12 * a2)"
    f" + a2 * (a1 * c2 - c1 * a2)) / {_G_DET})"
)
_G_B2 = (
    "((nd * (m11 * c2 - c1 * m12) - a1 * (a1 * c2 - c1 * a2)"
    f" + c0 * (a1 * m12 - m11 * a2)) / {_G_DET})"
)
# restricted fit (intercept + lagged y only): 2x2 closed form
_G_B1R = "((nd * c1 - a1 * c0) / (nd * m11 - a1 * a1))"
_G_B0R = f"((c0 - {_G_B1R} * a1) / nd)"

_G_MOMENTS = """
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) AS DOUBLE) AS nd,
               CAST(SUM(dy1) AS DOUBLE) AS a1,
               CAST(SUM(dx1) AS DOUBLE) AS a2,
               CAST(SUM(dy1 * dy1) AS DOUBLE) AS m11,
               CAST(SUM(dy1 * dx1) AS DOUBLE) AS m12,
               CAST(SUM(dx1 * dx1) AS DOUBLE) AS m22,
               CAST(SUM(dy) AS DOUBLE) AS c0,
               CAST(SUM(dy * dy1) AS DOUBLE) AS c1,
               CAST(SUM(dy * dx1) AS DOUBLE) AS c2
"""

_G_RSS_U = (
    f"CAST(FLOOR((dy - ({_G_B0} + {_G_B1} * dy1 + {_G_B2} * dx1))"
    f" * (dy - ({_G_B0} + {_G_B1} * dy1 + {_G_B2} * dx1)) / n) AS BIGINT)"
)
_G_RSS_R = (
    f"CAST(FLOOR((dy - ({_G_B0R} + {_G_B1R} * dy1))"
    f" * (dy - ({_G_B0R} + {_G_B1R} * dy1)) / n) AS BIGINT)"
)
_G_F = (
    "CAST(FLOOR(CAST(GREATEST(rssn_r - rssn_u, 0) AS DOUBLE)"
    " * (n - 3) / rssn_u * 1000000) AS BIGINT)"
)

_TS16_ORACLE = _DAILY_CTE + f""",
    lagged AS (
        SELECT a.v AS y, b.v AS y1, b.n AS x1
        FROM daily a JOIN daily b ON b.day_idx = a.day_idx - 1
    ),
    mu AS (
        SELECT SUM(y) // COUNT(*) AS my, SUM(y1) // COUNT(*) AS my1,
               SUM(x1) // COUNT(*) AS mx1
        FROM lagged
    ),
    dev AS (
        SELECT y - my AS dy, y1 - my1 AS dy1, x1 - mx1 AS dx1
        FROM lagged, mu
    ),
    mom AS ({_G_MOMENTS} FROM dev),
    rss AS (
        SELECT CAST(SUM({_G_RSS_U}) AS BIGINT) AS rssn_u,
               CAST(SUM({_G_RSS_R}) AS BIGINT) AS rssn_r
        FROM dev, mom
    )
    SELECT n AS n_pairs,
           CAST(FLOOR({_G_B1} * 1000000) AS BIGINT) AS beta_y1_micro,
           CAST(FLOOR({_G_B2} * 1000000) AS BIGINT) AS beta_x1_micro,
           rssn_u, rssn_r,
           {_G_F} AS f_stat_micro
    FROM mom, rss
"""


@register("ts16_granger_causality", _TS16_ORACLE)
def ts16_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS16: lag-1 Granger causality — does yesterday's event COUNT
    improve the forecast of today's event-value total beyond
    yesterday's value itself? F-test of the unrestricted OLS
    y_t ~ 1 + y_{t-1} + x_{t-1} against the restricted y_t ~ 1 +
    y_{t-1}: the classic pre-deployment check for "is this signal
    worth a feature?" in forecasting pipelines. Exactness stack:
    calendar-day lag pairs by equi-join (the ts10 shape); all three
    series FLOOR-CENTERED before any product (the ev17 overflow
    lesson — and a constant shift only moves the intercept, so
    slopes/RSS/F equal the raw fit exactly); deviation moments are
    exact BIGINTs cast once to DOUBLE; the 3x3 normal equations solve
    by Cramer in one fixed IEEE chain (_G_DET/_G_B*, the m49
    closed-form posture — no iteration); per-row squared residuals
    FLOOR(r^2/n)-scaled so the RSS sums are order-free BIGINTs; F is
    one final IEEE chain on those integers (GREATEST-guarded: the
    per-term floors can push rssn_r a hair under rssn_u when the true
    difference is ~0). Plan: one events-sized groupBy, then a
    day-ledger self-join and two metadata-sized passes — at 100 TB
    everything after the first shuffle is O(days)."""
    daily = daily_milli_events(spark, sf_dir).groupBy("day_idx").agg(
        F.sum("v").alias("y"), F.count(F.lit(1)).cast("bigint").alias("x")
    )
    b = daily.select(
        F.col("day_idx").alias("b_day"),
        F.col("y").alias("y1"),
        F.col("x").alias("x1"),
    )
    lagged = daily.join(b, F.col("b_day") == F.col("day_idx") - 1).select(
        "y", "y1", "x1"
    )
    mu = lagged.agg(
        F.expr("sum(y) div count(*)").alias("my"),
        F.expr("sum(y1) div count(*)").alias("my1"),
        F.expr("sum(x1) div count(*)").alias("mx1"),
    )
    dev = cache_once(
        lagged.crossJoin(F.broadcast(mu)).select(
            (F.col("y") - F.col("my")).alias("dy"),
            (F.col("y1") - F.col("my1")).alias("dy1"),
            (F.col("x1") - F.col("mx1")).alias("dx1"),
        )
    )
    mom = dev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum("dy1").cast("double").alias("a1"),
        F.sum("dx1").cast("double").alias("a2"),
        F.sum(F.col("dy1") * F.col("dy1")).cast("double").alias("m11"),
        F.sum(F.col("dy1") * F.col("dx1")).cast("double").alias("m12"),
        F.sum(F.col("dx1") * F.col("dx1")).cast("double").alias("m22"),
        F.sum("dy").cast("double").alias("c0"),
        F.sum(F.col("dy") * F.col("dy1")).cast("double").alias("c1"),
        F.sum(F.col("dy") * F.col("dx1")).cast("double").alias("c2"),
    )
    rss = (
        dev.crossJoin(F.broadcast(mom))
        .selectExpr(f"{_G_RSS_U} AS tu", f"{_G_RSS_R} AS tr")
        .agg(
            F.sum("tu").cast("bigint").alias("rssn_u"),
            F.sum("tr").cast("bigint").alias("rssn_r"),
        )
    )
    return mom.crossJoin(F.broadcast(rss)).selectExpr(
        "n AS n_pairs",
        f"CAST(FLOOR({_G_B1} * 1000000) AS BIGINT) AS beta_y1_micro",
        f"CAST(FLOOR({_G_B2} * 1000000) AS BIGINT) AS beta_x1_micro",
        "rssn_u",
        "rssn_r",
        f"{_G_F} AS f_stat_micro",
    )


# --- TS17: lagged cross-correlation (value total vs event count) --------------

_TS17_ORACLE = _DAILY_CTE + """,
    mu AS (
        SELECT SUM(v) // COUNT(*) AS my, SUM(n) // COUNT(*) AS mx FROM daily
    ),
    dev AS (
        SELECT day_idx, v - my AS dy, n - mx AS dx FROM daily, mu
    ),
    den AS (
        SELECT CAST(SUM(dy * dy) AS BIGINT) AS ssy,
               CAST(SUM(dx * dx) AS BIGINT) AS ssx
        FROM dev
    ),
    lags AS (SELECT UNNEST([-3, -2, -1, 0, 1, 2, 3]) AS lag),
    num AS (
        SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(a.dx * b.dy) AS BIGINT) AS sxy
        FROM dev a
        JOIN lags l ON TRUE
        JOIN dev b ON b.day_idx = a.day_idx + l.lag
        GROUP BY l.lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
           CAST(FLOOR(CAST(sxy AS DOUBLE)
                / (SQRT(CAST(ssx AS DOUBLE)) * SQRT(CAST(ssy AS DOUBLE)))
                * 1000000) AS BIGINT) AS xcf_micro
    FROM num, den ORDER BY lag
"""


@register("ts17_cross_correlation", _TS17_ORACLE)
def ts17_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS17: lagged cross-correlation between daily event COUNT and
    daily value TOTAL at lags -3..3 — which series LEADS? (positive
    peak lag = count leads value). ts10's self-ACF machinery pointed
    at a PAIR of series: same floor-centering before products (exact
    BIGINT deviation moments at any SF), same exploded-lag equi-join
    (never a banded nested loop), normalization by sqrt(ssx)*sqrt(ssy)
    with each factor sqrt'd separately (a51's overflow rule: the raw
    product crosses 2^63 first). Sign convention pinned by the shared
    text: xcf(l) correlates count_t with value_{t+l}. One events-sized
    groupBy; O(days) everything after."""
    daily = daily_milli_events(spark, sf_dir).groupBy("day_idx").agg(
        F.sum("v").alias("y"), F.count(F.lit(1)).cast("bigint").alias("x")
    )
    mu = daily.agg(
        F.expr("sum(y) div count(*)").alias("my"),
        F.expr("sum(x) div count(*)").alias("mx"),
    )
    dev = cache_once(
        daily.crossJoin(F.broadcast(mu)).select(
            "day_idx",
            (F.col("y") - F.col("my")).alias("dy"),
            (F.col("x") - F.col("mx")).alias("dx"),
        )
    )
    den = dev.agg(
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("ssy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("ssx"),
    )
    a = dev.withColumn(
        "lag", F.explode(F.array(*[F.lit(k) for k in range(-3, 4)]))
    ).select("day_idx", "dx", "lag")
    b = dev.select(F.col("day_idx").alias("b_day"), F.col("dy").alias("bdy"))
    num = (
        a.join(F.broadcast(b), F.col("b_day") == F.col("day_idx") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.col("dx") * F.col("bdy")).cast("bigint").alias("sxy"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("bigint").alias("lag"),
            "n_pairs",
            F.expr(
                "CAST(FLOOR(CAST(sxy AS DOUBLE)"
                " / (SQRT(CAST(ssx AS DOUBLE)) * SQRT(CAST(ssy AS DOUBLE)))"
                " * 1000000) AS BIGINT)"
            ).alias("xcf_micro"),
        )
        .orderBy("lag")
    )


# --- TS18: maximum drawdown (running max via two-phase prefix) ----------------

_TS18_ORACLE = _DAILY_CTE + """,
    runmax AS (
        SELECT day_idx, v AS y,
               CAST(MAX(v) OVER (ORDER BY day_idx) AS BIGINT) AS peak
        FROM daily
    ),
    dd AS (
        SELECT day_idx, y, peak, peak - y AS drawdown FROM runmax
    ),
    best AS (
        SELECT drawdown, day_idx, y, peak,
               ROW_NUMBER() OVER (ORDER BY drawdown DESC, day_idx) AS rn
        FROM dd
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST(drawdown AS BIGINT) AS max_drawdown_milli,
           CAST(day_idx AS BIGINT) AS trough_day,
           CAST(y AS BIGINT) AS trough_milli,
           CAST(peak AS BIGINT) AS peak_before_milli
    FROM best WHERE rn = 1
"""


@register("ts18_max_drawdown", _TS18_ORACLE)
def ts18_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS18: maximum drawdown of the daily event-value series — the
    worst peak-to-trough decline max_t(max_{s<=t} y_s - y_t): the
    risk/health statistic behind "how far below its best day has this
    metric fallen?" dashboards. The RUNNING MAX is the interesting
    part at scale: it is computed with the ordered.py two-phase shape
    (range-partition by day, per-partition running max under a window
    PARTITIONED by spark_partition_id, then per-partition maxima — a
    #partitions-row frame — combined by the exclusive-prefix non-equi
    broadcast idiom, here with MAX instead of SUM), so no row ever
    flows through a single-task global window. The answer row is the
    max-drawdown day with (drawdown, day) lexicographic tiebreak via
    one TakeOrdered(1). All integers (milli value units); drawdown of
    a monotone-rising series is correctly 0. One events-sized groupBy;
    O(days) after."""
    daily = cache_once(
        daily_milli_events(spark, sf_dir).groupBy("day_idx")
        .agg(F.sum("v").alias("y"))
        .repartitionByRange(8, "day_idx")
        .withColumn("_pid", F.spark_partition_id())
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = daily.withColumn("_lmax", F.max("y").over(w_local))
    totals = daily.groupBy("_pid").agg(F.max("y").alias("_pmax"))
    a = totals.select(F.col("_pid")).alias("a")
    b = totals.alias("b")
    offs = (
        a.join(F.broadcast(b), F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.max("b._pmax").alias("_omax"))
    )
    runmax = local.join(F.broadcast(offs), "_pid").select(
        "day_idx",
        "y",
        F.greatest(F.col("_lmax"), F.coalesce(F.col("_omax"), F.col("_lmax"))).alias(
            "peak"
        ),
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    best = (
        runmax.select(
            "day_idx", "y", "peak", (F.col("peak") - F.col("y")).alias("drawdown")
        )
        .orderBy(F.desc("drawdown"), "day_idx")
        .limit(1)
    )
    return best.crossJoin(F.broadcast(n_days)).select(
        "n_days",
        F.col("drawdown").cast("bigint").alias("max_drawdown_milli"),
        F.col("day_idx").cast("bigint").alias("trough_day"),
        F.col("y").cast("bigint").alias("trough_milli"),
        F.col("peak").cast("bigint").alias("peak_before_milli"),
    )


# --- TS19: PACF via fixed-point Durbin-Levinson (lags 1..4) -------------------

# Each Durbin-Levinson level consumes the PREVIOUS level's
# already-FLOORED micro coefficients and the exact ACF micros, so every
# level is one short fixed IEEE chain from identical integers on both
# engines (fixed-point DL: the flooring is part of the operator's
# definition, like m43's Newton rounds). All phi/r values are micro
# (1e6) fixed point; dividends/divisors stay unitless ratios * 1e6.
_DL2_NUM = "(r2m - CAST(p11 AS DOUBLE) * r1m / 1000000)"
_DL2_DEN = "(1000000 - CAST(p11 AS DOUBLE) * r1m / 1000000)"
_DL_P22 = (
    f"CAST(CASE WHEN {_DL2_DEN} = 0 THEN 0 ELSE"
    f" FLOOR({_DL2_NUM} / {_DL2_DEN} * 1000000) END AS BIGINT)"
)
_DL_P21 = (
    "CAST(FLOOR(p11 - CAST(p22 AS DOUBLE) * p11 / 1000000) AS BIGINT)"
)
_DL3_NUM = (
    "(r3m - CAST(p21 AS DOUBLE) * r2m / 1000000"
    " - CAST(p22 AS DOUBLE) * r1m / 1000000)"
)
_DL3_DEN = (
    "(1000000 - CAST(p21 AS DOUBLE) * r1m / 1000000"
    " - CAST(p22 AS DOUBLE) * r2m / 1000000)"
)
_DL_P33 = (
    f"CAST(CASE WHEN {_DL3_DEN} = 0 THEN 0 ELSE"
    f" FLOOR({_DL3_NUM} / {_DL3_DEN} * 1000000) END AS BIGINT)"
)
_DL_P31 = "CAST(FLOOR(p21 - CAST(p33 AS DOUBLE) * p22 / 1000000) AS BIGINT)"
_DL_P32 = "CAST(FLOOR(p22 - CAST(p33 AS DOUBLE) * p21 / 1000000) AS BIGINT)"
_DL4_NUM = (
    "(r4m - CAST(p31 AS DOUBLE) * r3m / 1000000"
    " - CAST(p32 AS DOUBLE) * r2m / 1000000"
    " - CAST(p33 AS DOUBLE) * r1m / 1000000)"
)
_DL4_DEN = (
    "(1000000 - CAST(p31 AS DOUBLE) * r1m / 1000000"
    " - CAST(p32 AS DOUBLE) * r2m / 1000000"
    " - CAST(p33 AS DOUBLE) * r3m / 1000000)"
)
_DL_P44 = (
    f"CAST(CASE WHEN {_DL4_DEN} = 0 THEN 0 ELSE"
    f" FLOOR({_DL4_NUM} / {_DL4_DEN} * 1000000) END AS BIGINT)"
)

_TS19_ORACLE = _DAILY_CTE + _CENTERED_CTES + f""",
    den AS (SELECT CAST(SUM(d * d) AS BIGINT) AS ss FROM dev),
    acf AS (
        SELECT l.lag,
               CAST(FLOOR(CAST(SUM(a.d * b.d) AS DOUBLE)
                    / CAST(MAX(den.ss) AS DOUBLE) * 1000000) AS BIGINT) AS rm
        FROM dev a
        JOIN (SELECT UNNEST([1, 2, 3, 4]) AS lag) l ON TRUE
        JOIN dev b ON b.day_idx = a.day_idx + l.lag
        CROSS JOIN den
        GROUP BY l.lag
    ),
    rv AS (
        SELECT MAX(CASE WHEN lag = 1 THEN rm END) AS r1m,
               MAX(CASE WHEN lag = 2 THEN rm END) AS r2m,
               MAX(CASE WHEN lag = 3 THEN rm END) AS r3m,
               MAX(CASE WHEN lag = 4 THEN rm END) AS r4m
        FROM acf
    ),
    l1 AS (SELECT *, r1m AS p11 FROM rv),
    l2 AS (SELECT *, {_DL_P22} AS p22 FROM l1),
    l2b AS (SELECT *, {_DL_P21} AS p21 FROM l2),
    l3 AS (SELECT *, {_DL_P33} AS p33 FROM l2b),
    l3b AS (SELECT *, {_DL_P31} AS p31, {_DL_P32} AS p32 FROM l3),
    l4 AS (SELECT *, {_DL_P44} AS p44 FROM l3b)
    SELECT lag, pacf_micro, acf_micro FROM (
        SELECT CAST(1 AS BIGINT) AS lag, p11 AS pacf_micro, r1m AS acf_micro FROM l4
        UNION ALL SELECT 2, p22, r2m FROM l4
        UNION ALL SELECT 3, p33, r3m FROM l4
        UNION ALL SELECT 4, p44, r4m FROM l4
    ) ORDER BY lag
"""


@register("ts19_pacf_durbin_levinson", _TS19_ORACLE)
def ts19_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS19: partial autocorrelation (lags 1..4) by fixed-point
    Durbin-Levinson — with ts10's ACF this completes the Box-Jenkins
    model-identification pair (AR(p) shows a PACF cutoff at p, MA(q)
    an ACF cutoff at q). The ACF micros are ts10's exact machinery
    (floor-centered deviations, exact BIGINT moments, one IEEE
    division per lag); each DL level then consumes the PREVIOUS
    level's already-FLOORED micro coefficients in a short fixed IEEE
    chain (_DL_*, the m43 fixed-point-iteration posture: the floor is
    part of the operator's definition, which is what makes four
    chained rational recursions bit-reproducible cross-engine instead
    of a 16-term exponentially-expanded expression). Zero-denominator
    levels pin to 0. Plan: one events-sized groupBy, the ts10 lag
    join, then a 1-row scalar cascade. phi(1) = r(1) by construction;
    |pacf| <= 1e6 pytested."""
    daily = daily_milli_events(spark, sf_dir).groupBy("day_idx").agg(F.sum("v").alias("v"))
    dev = cache_once(centered_daily(daily))
    den = dev.agg(F.sum(F.col("d") * F.col("d")).alias("ss"))
    a = dev.withColumn("lag", F.explode(F.array(*[F.lit(k) for k in range(1, 5)])))
    b = dev.select(F.col("day_idx").alias("b_day"), F.col("d").alias("bd"))
    acf = (
        a.join(F.broadcast(b), F.col("b_day") == F.col("day_idx") + F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(F.col("d") * F.col("bd")).alias("sxy"))
        .crossJoin(F.broadcast(den))
        .select(
            "lag",
            F.expr(
                "CAST(FLOOR(CAST(sxy AS DOUBLE) / CAST(ss AS DOUBLE)"
                " * 1000000) AS BIGINT)"
            ).alias("rm"),
        )
    )
    rv = acf.agg(
        F.max(F.when(F.col("lag") == 1, F.col("rm"))).alias("r1m"),
        F.max(F.when(F.col("lag") == 2, F.col("rm"))).alias("r2m"),
        F.max(F.when(F.col("lag") == 3, F.col("rm"))).alias("r3m"),
        F.max(F.when(F.col("lag") == 4, F.col("rm"))).alias("r4m"),
    )
    l4 = (
        rv.selectExpr("*", "r1m AS p11")
        .selectExpr("*", f"{_DL_P22} AS p22")
        .selectExpr("*", f"{_DL_P21} AS p21")
        .selectExpr("*", f"{_DL_P33} AS p33")
        .selectExpr("*", f"{_DL_P31} AS p31", f"{_DL_P32} AS p32")
        .selectExpr("*", f"{_DL_P44} AS p44")
    )
    out = None
    for lag, pcol, rcol in ((1, "p11", "r1m"), (2, "p22", "r2m"), (3, "p33", "r3m"), (4, "p44", "r4m")):
        frame = l4.select(
            F.lit(lag).cast("bigint").alias("lag"),
            F.col(pcol).cast("bigint").alias("pacf_micro"),
            F.col(rcol).cast("bigint").alias("acf_micro"),
        )
        out = frame if out is None else out.unionByName(frame)
    return out.orderBy("lag")


@register(
    "ts7_theil_sen_trend",
    """
    WITH monthly AS (
        SELECT c.c_nationkey AS nation,
               CAST(YEAR(o.o_orderdate) * 12 + MONTH(o.o_orderdate) AS BIGINT) AS m,
               SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY nation, m
    ),
    slopes AS (
        SELECT a.nation,
               (b.rev - a.rev) * 1000 // (b.m - a.m) AS slope_milli,
               ROW_NUMBER() OVER (
                   PARTITION BY a.nation
                   ORDER BY (b.rev - a.rev) * 1000 // (b.m - a.m), a.m, b.m
               ) AS rn,
               COUNT(*) OVER (PARTITION BY a.nation) AS np
        FROM monthly a JOIN monthly b ON a.nation = b.nation AND a.m < b.m
    )
    SELECT CAST(nation AS BIGINT) AS nation,
           CAST(ANY_VALUE(np) AS BIGINT) AS n_pairs,
           CAST(MAX(CASE WHEN rn = (np + 1) // 2 THEN slope_milli END) AS BIGINT)
               AS median_slope_milli
    FROM slopes GROUP BY nation ORDER BY nation
    """,
)
def ts7_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS7: Theil-Sen robust trend per nation — the median of all
    pairwise slopes of the monthly-revenue series, immune to the
    outlier months that wreck the OLS fit (t19_zipf_fit's estimator).
    Slopes are exact integers (cents*1000 per month, both engines'
    integer division truncating toward zero identically) and the
    median is the deterministic lower median by (slope, m1, m2)
    ROW_NUMBER — no float quantile anywhere.

    Scale: the pair join is per-nation over the ~80-row monthly
    aggregate (6.4k pairs/nation, CONSTANT in corpus size — the raw
    scan collapses to months first), the ranking window is partitioned
    by nation. At 100 TB only the first aggregation grows; the
    Theil-Sen stage is fixed work."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    from pyspark.sql.window import Window

    monthly = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")), o.o_custkey == F.col("c_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long").alias("m"),
        )
        .agg(F.expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))").alias("rev"))
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    slopes = a.join(
        b, (F.col("a.nation") == F.col("b.nation")) & (F.col("a.m") < F.col("b.m"))
    ).select(
        F.col("a.nation").alias("nation"),
        F.expr("(b.rev - a.rev) * 1000 DIV (b.m - a.m)").alias("slope_milli"),
        F.col("a.m").alias("m1"),
        F.col("b.m").alias("m2"),
    )
    w_rank = Window.partitionBy("nation").orderBy("slope_milli", "m1", "m2")
    w_n = Window.partitionBy("nation")
    ranked = slopes.select(
        "nation",
        "slope_milli",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("np"),
    )
    return (
        ranked.groupBy(F.col("nation").cast("long").alias("nation"))
        .agg(
            F.first("np").cast("long").alias("n_pairs"),
            F.expr("CAST(MAX(CASE WHEN rn = (np + 1) DIV 2 THEN slope_milli END) AS BIGINT)")
            .alias("median_slope_milli"),
        )
        .orderBy("nation")
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
