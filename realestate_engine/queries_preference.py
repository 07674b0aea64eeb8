"""Preference / pairwise-comparison operators (north-star extension):
the data side of RLHF-style preference modeling. A Bradley-Terry fit
turns pairwise win counts into item strengths — the canonical reward /
ranking model for preference datasets — and the wins matrix itself is
the artifact a preference-data pipeline materializes at scale.

Engine-portable integer idioms throughout (integer cents comparisons,
FLOOR-scaled micro strengths, one integer division per pair-term) so
every value hash-compares vs DuckDB. Reference parity: none (the
reference has no preference surface; north-star per the build brief).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestate_engine.registry import iterate, register, t

_BT_ROUNDS = 3
_BT_INIT = 1_000_000  # strength micro-units; init = 1.0


def _bt_oracle_sql() -> str:
    """Unrolled MM rounds over the 5-item strength frame (tiny CTEs;
    every pair term is one BIGINT division, the renorm one more)."""
    head = f"""
    WITH per_user AS MATERIALIZED (
        SELECT user_id, event_type,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY user_id, event_type
    ),
    duels AS MATERIALIZED (
        SELECT a.event_type AS i, b.event_type AS j,
               CAST(SUM(CASE WHEN a.cents > b.cents THEN 1 ELSE 0 END) AS BIGINT) AS nij,
               CAST(SUM(CASE WHEN b.cents > a.cents THEN 1 ELSE 0 END) AS BIGINT) AS nji
        FROM per_user a
        JOIN per_user b ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    ),
    sym AS MATERIALIZED (
        SELECT i, j, nij, nji FROM duels
        UNION ALL
        SELECT j AS i, i AS j, nji AS nij, nij AS nji FROM duels
    ),
    s0 AS MATERIALIZED (
        SELECT i AS item, CAST({_BT_INIT} AS BIGINT) AS s
        FROM (SELECT DISTINCT i FROM sym)
    )"""
    steps = []
    for k in range(_BT_ROUNDS):
        steps.append(f"""
    upd{k} AS MATERIALIZED (
        SELECT y.i AS item,
               SUM(y.nij) AS wins,
               SUM((y.nij + y.nji) * 1000000000000 // (sa.s + sb.s)) AS d_scaled
        FROM sym y
        JOIN s{k} sa ON sa.item = y.i
        JOIN s{k} sb ON sb.item = y.j
        GROUP BY y.i
    ),
    raw{k} AS MATERIALIZED (
        SELECT item, CAST(wins * 1000000000000 // d_scaled AS BIGINT) AS s
        FROM upd{k}
    ),
    s{k + 1} AS MATERIALIZED (
        SELECT r.item,
               CAST(r.s * (SELECT COUNT(*) FROM raw{k}) * {_BT_INIT}
                    // (SELECT SUM(s) FROM raw{k}) AS BIGINT) AS s
        FROM raw{k} r
    )""")
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT s.item AS event_type,
           CAST(w.wins AS BIGINT) AS wins,
           CAST(w.games AS BIGINT) AS games,
           s.s AS strength_micro
    FROM s{_BT_ROUNDS} s
    JOIN (SELECT i AS item, SUM(nij) AS wins, SUM(nij + nji) AS games
          FROM sym GROUP BY i) w ON w.item = s.item
    ORDER BY strength_micro DESC, event_type
    """
    )


@register("m55_bradley_terry", _bt_oracle_sql())
def m55_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M55: Bradley-Terry preference-strength fit by Hunter's MM
    algorithm — the model behind RLHF reward fitting, chess/match
    rating, and LLM-arena leaderboards: given pairwise win counts
    n_ij, find strengths s with P(i beats j) = s_i/(s_i+s_j). Duels
    here: per user, event type i beats j when the user's integer-cent
    value total on i exceeds j's (ties abstain) — the corpus-sized
    work is ONE groupBy + one per-user self-join producing the K²-row
    wins matrix; everything after is K-row algebra. Three unrolled MM
    rounds: s_i' = W_i / Σ_j (n_ij+n_ji)/(s_i+s_j), every pair term
    FLOOR'd as one BIGINT division (micro-strengths, 1e12 scaling),
    then an exact integer renormalization to mean 1.0 — MM strengths
    are scale-free, pinning the gauge keeps the iteration a fixed
    point both engines replay bit-identically.

    At 100 TB the wins matrix is the only data-sized artifact (a
    map-side-combined agg over comparisons); the fit itself is
    metadata — which is exactly why preference pipelines ship the
    matrix, not raw duels. Reference behavior: none (north-star)."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.sum("cents").cast("bigint").alias("cents")
    )
    a, b = per_user.alias("a"), per_user.alias("b")
    duels = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("i"), F.col("b.event_type").alias("j")
        )
        .agg(
            F.sum(F.when(F.col("a.cents") > F.col("b.cents"), 1).otherwise(0))
            .cast("bigint")
            .alias("nij"),
            F.sum(F.when(F.col("b.cents") > F.col("a.cents"), 1).otherwise(0))
            .cast("bigint")
            .alias("nji"),
        )
    )
    sym = duels.unionByName(
        duels.select(
            F.col("j").alias("i"),
            F.col("i").alias("j"),
            F.col("nji").alias("nij"),
            F.col("nij").alias("nji"),
        )
    ).localCheckpoint()

    def step(s: DataFrame, r: int) -> DataFrame:
        upd = (
            sym.join(s.select(F.col("item").alias("i"), F.col("s").alias("si")), "i")
            .join(s.select(F.col("item").alias("j"), F.col("s").alias("sj")), "j")
            .groupBy("i")
            .agg(
                F.sum("nij").alias("wins"),
                F.sum(
                    F.expr("(nij + nji) * 1000000000000 div (si + sj)")
                ).alias("d_scaled"),
            )
            .select(
                F.col("i").alias("item"),
                F.expr("CAST(wins * 1000000000000 div d_scaled AS BIGINT)").alias("s"),
            )
        )
        norm = upd.agg(
            F.count(F.lit(1)).alias("k"), F.sum("s").alias("tot")
        )
        return upd.crossJoin(F.broadcast(norm)).select(
            "item",
            F.expr(f"CAST(s * k * {_BT_INIT} div tot AS BIGINT)").alias("s"),
        )

    s0 = sym.select("i").distinct().select(
        F.col("i").alias("item"), F.lit(_BT_INIT).cast("bigint").alias("s")
    )
    s = iterate(s0, step, _BT_ROUNDS)[-1]
    totals = sym.groupBy("i").agg(
        F.sum("nij").cast("bigint").alias("wins"),
        F.sum(F.col("nij") + F.col("nji")).cast("bigint").alias("games"),
    )
    return (
        s.join(totals, s.item == totals.i)
        .select(
            F.col("item").alias("event_type"),
            "wins",
            "games",
            F.col("s").alias("strength_micro"),
        )
        .orderBy(F.desc("strength_micro"), "event_type")
    )


@register(
    "m56_fairness_audit",
    """
    WITH c AS (
        SELECT cu.c_mktsegment AS segment,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label
        FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey
    ),
    thr AS (SELECT quantile_cont(cents, 0.5) AS median_cents FROM c),
    pred AS (
        SELECT segment, label,
               CASE WHEN c.cents > t.median_cents THEN 1 ELSE 0 END AS yhat
        FROM c, thr t
    ),
    seg AS (
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(yhat) AS BIGINT) AS n_predpos,
               CAST(SUM(CASE WHEN label = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN label = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN label = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN label = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM pred GROUP BY segment
    ),
    gtot AS (
        SELECT CAST(SUM(n_predpos) * 1000000 // SUM(n) AS BIGINT) AS sel_glob_micro,
               CAST(SUM(tp) * 1000000 // (SUM(tp) + SUM(fn)) AS BIGINT) AS tpr_glob_micro
        FROM seg
    )
    SELECT s.segment, s.n,
           CAST(s.n_predpos * 1000000 // s.n AS BIGINT) AS sel_rate_micro,
           CAST(s.tp * 1000000 // (s.tp + s.fn) AS BIGINT) AS tpr_micro,
           CAST(s.fp * 1000000 // (s.fp + s.tn) AS BIGINT) AS fpr_micro,
           CAST(s.n_predpos * 1000000 // s.n - g.sel_glob_micro AS BIGINT)
               AS parity_gap_micro,
           CAST(s.tp * 1000000 // (s.tp + s.fn) - g.tpr_glob_micro AS BIGINT)
               AS eq_opp_gap_micro
    FROM seg s CROSS JOIN gtot g
    ORDER BY s.segment
    """,
)
def m56_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M56: group-fairness audit of a classifier — per customer market
    segment, the three governance readouts every production model
    review requires: selection rate (DEMOGRAPHIC PARITY: does the
    median-threshold classifier of m28 flag segments at different
    rates?), true/false-positive rates (EQUALIZED ODDS: does accuracy
    differ by group?), and each segment's signed gap against the
    global rate (equal-opportunity difference). Same classifier and
    exact-integer discipline as m28 — the interpolated-median
    threshold broadcast once, every rate one BIGINT micro-division of
    confusion counts, gaps as differences of already-exact micros (no
    double rounding).

    Plan: one orders⋈customer broadcast-dim join, one confusion
    aggregate per segment (map-side combined), a 1-row global frame
    cross-joined onto the 5-row segment frame. At 100 TB the audit is
    one pass over predictions — which is why fairness telemetry
    belongs IN the eval pipeline, not a notebook afterthought.
    Cited reference behavior: none (governance north-star)."""
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice", "o_orderpriority")
    cu = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    c = o.join(F.broadcast(cu), o.o_custkey == cu.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("label"),
    )
    thr = c.agg(F.percentile("cents", F.lit(0.5)).alias("median_cents"))
    pred = c.crossJoin(F.broadcast(thr)).select(
        "segment",
        "label",
        F.when(F.col("cents") > F.col("median_cents"), 1).otherwise(0).alias("yhat"),
    )
    seg = pred.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("yhat").cast("bigint").alias("n_predpos"),
        F.sum(F.when((F.col("label") == 1) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when((F.col("label") == 1) & (F.col("yhat") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.when((F.col("label") == 0) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when((F.col("label") == 0) & (F.col("yhat") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
    )
    glob = seg.agg(
        F.expr("CAST(SUM(n_predpos) * 1000000 DIV SUM(n) AS BIGINT)").alias(
            "sel_glob_micro"
        ),
        F.expr("CAST(SUM(tp) * 1000000 DIV (SUM(tp) + SUM(fn)) AS BIGINT)").alias(
            "tpr_glob_micro"
        ),
    )
    return (
        seg.crossJoin(F.broadcast(glob))
        .select(
            "segment",
            "n",
            F.expr("CAST(n_predpos * 1000000 DIV n AS BIGINT)").alias("sel_rate_micro"),
            F.expr("CAST(tp * 1000000 DIV (tp + fn) AS BIGINT)").alias("tpr_micro"),
            F.expr("CAST(fp * 1000000 DIV (fp + tn) AS BIGINT)").alias("fpr_micro"),
            F.expr(
                "CAST(n_predpos * 1000000 DIV n - sel_glob_micro AS BIGINT)"
            ).alias("parity_gap_micro"),
            F.expr(
                "CAST(tp * 1000000 DIV (tp + fn) - tpr_glob_micro AS BIGINT)"
            ).alias("eq_opp_gap_micro"),
        )
        .orderBy("segment")
    )
