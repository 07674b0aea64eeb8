"""Round-5 operator additions: Bloom-filter join pruning, GROUPING
SETS, Merkle-style partition diffing, and WoE/IV feature binning.

Each query pairs a Spark-first plan with a DuckDB oracle built on the
repo's engine-portable integer idioms (md5-prefix hashes, integer
cents, FLOOR-scaled micros, bit_or lane aggregates) so every value
hash-compares across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestate_engine.dedup import portable_hash32
from realestate_engine.registry import cache_once, register, t

# --- Bloom-filter semi-join pruning ----------------------------------------
#
# The 100 TB pattern Spark's own runtime row-group filtering implements
# (spark.sql.optimizer.runtime.bloomFilter.enabled): build a compact
# Bloom filter over the small side's join keys, broadcast it, and drop
# non-matching fact rows BEFORE the shuffle. Here the filter is built
# with engine-portable arithmetic (two affine md5-prefix hashes over
# 2^16 bits packed into 1024 BIGINT lanes via bit_or), so DuckDB
# replays the exact same bit array and the false-positive accounting
# hash-compares. reference has no analogue; this is pure scale
# machinery the engine needs at 100 TB.

_BLOOM_BITS = 1 << 16
_BLOOM_LANES = _BLOOM_BITS // 64
# affine lane constants (same family as the minhash lanes in dedup.py)
_BLOOM_A = (769, 1543)
_BLOOM_B = (12289, 24593)
_BLOOM_P = 2_147_483_647  # 2^31 - 1


def _bloom_lane(h, i: int):
    """i-th Bloom bit index from ONE md5-prefix hash: double hashing —
    the md5 is computed once per key and both lanes are cheap affine
    transforms of it (standard Bloom practice; halves the dominant
    hash cost on both engines). Integer math only."""
    return ((h * _BLOOM_A[i] + _BLOOM_B[i]) % _BLOOM_P) % _BLOOM_BITS


_BLOOM_H_SQL = "(('0x' || SUBSTR(MD5(CAST({e} AS VARCHAR)), 1, 8))::BIGINT)"


def _bloom_lane_sql(hexpr: str, i: int) -> str:
    return f"(({hexpr} * {_BLOOM_A[i]} + {_BLOOM_B[i]}) % {_BLOOM_P}) % {_BLOOM_BITS}"


def _bit_sql(expr: str) -> str:
    """1 << (expr) as BIGINT in DuckDB; bit 63 spelled as the min-BIGINT
    literal because DuckDB raises on the overflowing shift (Spark's
    shiftleft wraps)."""
    return (
        f"CASE WHEN ({expr}) = 63 THEN (-9223372036854775807 - 1) "
        f"ELSE (1::BIGINT << ({expr})) END"
    )


@register(
    "j10_bloom_join_prune",
    f"""
    WITH keys AS (
        SELECT DISTINCT o_orderkey AS k
        FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    keyh AS (
        SELECT {_BLOOM_H_SQL.format(e='k')} AS h FROM keys
    ),
    bits AS (
        SELECT {_bloom_lane_sql('h', 0)} AS b FROM keyh
        UNION ALL
        SELECT {_bloom_lane_sql('h', 1)} AS b FROM keyh
    ),
    bloom AS (
        SELECT b // 64 AS lane, BIT_OR({_bit_sql('b % 64')}) AS lanebits
        FROM bits GROUP BY 1
    ),
    probes AS (
        SELECT l_orderkey,
               {_bloom_lane_sql('h', 0)} AS b0,
               {_bloom_lane_sql('h', 1)} AS b1
        FROM (SELECT l_orderkey, {_BLOOM_H_SQL.format(e='l_orderkey')} AS h FROM lineitem)
    ),
    candidates AS (
        SELECT p.l_orderkey
        FROM probes p
        JOIN bloom m0 ON m0.lane = p.b0 // 64
        JOIN bloom m1 ON m1.lane = p.b1 // 64
        WHERE (m0.lanebits & ({_bit_sql('p.b0 % 64')})) <> 0
          AND (m1.lanebits & ({_bit_sql('p.b1 % 64')})) <> 0
    ),
    stats AS (
        SELECT CAST((SELECT COUNT(*) FROM keys) AS BIGINT) AS n_keys,
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_probes,
               CAST((SELECT COUNT(*) FROM candidates) AS BIGINT) AS n_candidates,
               CAST((SELECT COUNT(*) FROM candidates c JOIN keys ON keys.k = c.l_orderkey)
                    AS BIGINT) AS n_matched
    )
    SELECT n_keys, n_probes, n_candidates, n_matched,
           n_candidates - n_matched AS n_false_pos,
           CAST(FLOOR((n_candidates - n_matched) * 1e6 /
                      GREATEST(n_probes - n_matched, 1)) AS BIGINT) AS fp_rate_micro
    FROM stats
    """,
)
def j10_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: Bloom-filter semi-join pruning — build a 2^16-bit Bloom
    filter (two affine md5-prefix hashes, bits packed into 1024 BIGINT
    lanes by bit_or) over the urgent orders' keys, broadcast it, and
    pre-filter lineitem before the real join would shuffle it. Reports
    the pruning ledger: probe count, Bloom-passed candidates, exact
    matches, false positives, and the realized FP rate in micros.

    Scale shape: the filter is <= 1024 rows regardless of key count —
    a broadcast, never a shuffle; each probe joins the broadcast lane
    table twice (BroadcastHashJoin) and the fact table is reduced
    BEFORE any wide operation. This is the manual form of Spark's
    runtime bloomFilter rewrite, with portable math so the oracle can
    replay the exact bit array."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    # the key set feeds the filter build, the exact-match flag AND the
    # ledger count — cache it once (bounded, see cache_once contract)
    keys = cache_once(
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    keyh = keys.select(portable_hash32(F.col("k").cast("string")).alias("h"))
    bits = keyh.select(_bloom_lane(F.col("h"), 0).alias("b")).unionAll(
        keyh.select(_bloom_lane(F.col("h"), 1).alias("b"))
    )
    bloom = bits.groupBy((F.col("b") / 64).cast("long").alias("lane")).agg(
        F.bit_or(F.expr("shiftleft(1L, CAST(b % 64 AS INT))")).alias("lanebits")
    )
    probes = li.select(
        "l_orderkey", portable_hash32(F.col("l_orderkey").cast("string")).alias("h")
    ).select(
        "l_orderkey",
        _bloom_lane(F.col("h"), 0).alias("b0"),
        _bloom_lane(F.col("h"), 1).alias("b1"),
    )
    m0 = bloom.select(F.col("lane").alias("lane0"), F.col("lanebits").alias("bits0"))
    m1 = bloom.select(F.col("lane").alias("lane1"), F.col("lanebits").alias("bits1"))
    candidates = (
        probes.join(F.broadcast(m0), (F.col("b0") / 64).cast("long") == F.col("lane0"))
        .join(F.broadcast(m1), (F.col("b1") / 64).cast("long") == F.col("lane1"))
        .filter(
            (F.col("bits0").bitwiseAND(F.expr("shiftleft(1L, CAST(b0 % 64 AS INT))")) != 0)
            & (F.col("bits1").bitwiseAND(F.expr("shiftleft(1L, CAST(b1 % 64 AS INT))")) != 0)
        )
        .select("l_orderkey")
    )
    n_keys = keys.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
    n_probes = li.agg(F.count(F.lit(1)).cast("bigint").alias("n_probes"))
    # one pass over the candidate set yields BOTH ledger counts: flag
    # each candidate against the key set and aggregate, instead of
    # counting candidates twice. No forced broadcast here — the key
    # set grows with the dim side, so Catalyst/AQE picks broadcast vs
    # shuffle by its actual size (only the <=1024-row lane table is
    # unconditionally broadcast-able)
    cand_stats = (
        candidates.join(
            keys.withColumn("m", F.lit(1)),
            candidates.l_orderkey == F.col("k"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(F.when(F.col("m") == 1, 1).otherwise(0)).cast("bigint").alias("n_matched"),
        )
    )
    out = n_keys.crossJoin(F.broadcast(n_probes)).crossJoin(F.broadcast(cand_stats))
    return out.select(
        "n_keys",
        "n_probes",
        "n_candidates",
        "n_matched",
        (F.col("n_candidates") - F.col("n_matched")).alias("n_false_pos"),
        F.floor(
            (F.col("n_candidates") - F.col("n_matched"))
            * 1e6
            / F.greatest(F.col("n_probes") - F.col("n_matched"), F.lit(1))
        )
        .cast("bigint")
        .alias("fp_rate_micro"),
    )


@register(
    "sql_grouping_sets",
    """
    SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
           COALESCE(l_linestatus, '(all)') AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
    ORDER BY gid, returnflag, linestatus
    """,
)
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface: explicit GROUPING SETS with grouping_id
    disambiguation — the general form behind rollup (a10) and cube
    (a11), here with a non-hierarchical set list (both margins + total)
    that neither rollup nor cube alone expresses. COALESCE + the
    grouping bits distinguish 'NULL because aggregated away' from a
    genuine NULL group value. One Expand + one hash aggregate; the
    expand factor equals the number of sets (4), and partial
    aggregation still applies before the shuffle."""
    li = t(spark, sf_dir, "lineitem")
    df = li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
        .cast("bigint")
        .alias("gid"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return df.select(
        F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
        "gid",
        "rev_cents",
        "n",
    ).orderBy("gid", "returnflag", "linestatus")


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
    "dq13_psi_drift",
    """
    WITH bucketed AS (
        SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
               CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'a' ELSE 'b' END AS period
        FROM orders
    ),
    per AS (
        SELECT bucket,
               SUM(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS n_a,
               SUM(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS n_b
        FROM bucketed GROUP BY bucket
    ),
    tot AS (
        SELECT SUM(n_a) AS tot_a, SUM(n_b) AS tot_b,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM per
    ),
    terms AS (
        SELECT CAST(FLOOR(((n_a + 1.0) / (tot_a + k) - (n_b + 1.0) / (tot_b + k))
                    * LN(((n_a + 1.0) / (tot_a + k)) / ((n_b + 1.0) / (tot_b + k)))
                    * 1e6) AS BIGINT) AS term_micro,
               n_a, n_b
        FROM per, tot
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
    o = t(spark, sf_dir, "orders")
    bucketed = o.select(
        F.floor(F.col("o_totalprice") / 50000.0).cast("bigint").alias("bucket"),
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), "a"
        ).otherwise("b").alias("period"),
    )
    per = bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("period") == "a", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("period") == "b", 1).otherwise(0)).alias("n_b"),
    )
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
    "a38_skyline_frontier",
    """
    WITH pts AS (
        SELECT o_custkey,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS x,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM orders GROUP BY o_custkey
    ),
    sky AS (
        SELECT x, y FROM pts q
        WHERE NOT EXISTS (
            SELECT 1 FROM pts p
            WHERE p.x >= q.x AND p.y >= q.y AND (p.x > q.x OR p.y > q.y)
        )
    )
    SELECT CAST(x AS BIGINT) AS total_cents, CAST(y AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM sky GROUP BY x, y
    ORDER BY total_cents DESC
    """,
)
def a38_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A38: 2-D skyline (Pareto frontier) — customers not dominated on
    (total spend, order count), both maximized: the multi-objective
    'best customers' query no single ORDER BY can answer. The oracle
    states the textbook NOT-EXISTS dominance spec; the engine computes
    it WITHOUT the quadratic pair test and WITHOUT a global sort:

    1. collapse to one row per distinct x with max y (hash agg);
    2. decile-bucket x by broadcast percentile cuts (a23 idiom);
    3. per-bucket running max of y over x DESC — a PARTITIONED window
       (bucket count ~n/10 rows each, never a 1-task funnel);
    4. cross-bucket prefix max from the <=10-row bucket ledger via the
       broadcast non-equi self-join idiom;
    a point survives iff its y strictly exceeds the max y at any
    strictly-greater x (within-bucket window ∪ higher-bucket ledger)
    and it holds the max y of its own x group — the standard
    grid-partitioned skyline, linear in n with one partitioned window.
    Ties on both axes all survive (co-optimal points)."""
    o = t(spark, sf_dir, "orders")
    from pyspark.sql import Window

    pts = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("y"),
    )
    per_x = pts.groupBy("x").agg(F.max("y").alias("max_y_at_x"))
    cuts = per_x.agg(
        F.percentile_approx("x", [i / 10 for i in range(1, 10)], 10_000_000).alias("qs")
    )
    bucketed = per_x.crossJoin(F.broadcast(cuts)).select(
        "x",
        "max_y_at_x",
        F.aggregate(
            "qs", F.lit(0), lambda acc, c: acc + F.when(F.col("x") > c, 1).otherwise(0)
        ).alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col("x").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = bucketed.withColumn(
        "within_max", F.coalesce(F.max("max_y_at_x").over(w), F.lit(-1))
    )
    ledger = bucketed.groupBy("bucket").agg(F.max("max_y_at_x").alias("bmax"))
    lo, hi = ledger.alias("lo"), ledger.alias("hi")
    higher = (
        lo.crossJoin(F.broadcast(hi))
        .groupBy(F.col("lo.bucket").alias("bucket"))
        .agg(
            F.max(
                F.when(F.col("hi.bucket") > F.col("lo.bucket"), F.col("hi.bmax"))
            ).alias("hmax")
        )
    )
    sky_x = (
        within.join(F.broadcast(higher), "bucket", "left")
        .withColumn("prefix_max", F.greatest("within_max", F.coalesce("hmax", F.lit(-1))))
        .filter(F.col("max_y_at_x") > F.col("prefix_max"))
        .select("x", "max_y_at_x")
    )
    return (
        pts.join(F.broadcast(sky_x), "x")
        .filter(F.col("y") == F.col("max_y_at_x"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .select(
            F.col("x").alias("total_cents"),
            F.col("y").alias("n_orders"),
            "n_customers",
        )
        .orderBy(F.col("total_cents").desc())
    )


# --- CM-sketch join-size estimation ----------------------------------------

_CM_W = 1024  # cells per hash row
_CM_A = (769, 1543, 3079)
_CM_B = (12289, 24593, 49157)


def _cm_cell(h, j: int):
    return ((h * _CM_A[j] + _CM_B[j]) % _BLOOM_P) % _CM_W


def _cm_cell_sql(hexpr: str, j: int) -> str:
    return f"(({hexpr} * {_CM_A[j]} + {_CM_B[j]}) % {_BLOOM_P}) % {_CM_W}"


@register(
    "a39_selfjoin_size_sketch",
    f"""
    WITH keyed AS (
        SELECT ('0x' || SUBSTR(MD5(CAST(l_suppkey AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM lineitem
    ),
    cells AS (
        SELECT 0 AS j, {_cm_cell_sql('h', 0)} AS cell FROM keyed
        UNION ALL SELECT 1, {_cm_cell_sql('h', 1)} FROM keyed
        UNION ALL SELECT 2, {_cm_cell_sql('h', 2)} FROM keyed
    ),
    cm AS (
        SELECT j, cell, CAST(COUNT(*) AS BIGINT) AS c
        FROM cells GROUP BY j, cell
    ),
    est AS (
        SELECT j, SUM(c * c) AS e FROM cm GROUP BY j
    ),
    exact AS (
        SELECT CAST(SUM(c * c) AS BIGINT) AS x
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY l_suppkey)
    )
    SELECT exact.x AS exact_size,
           CAST((SELECT MIN(e) FROM est) AS BIGINT) AS estimated_size,
           ((SELECT MIN(e) FROM est) >= exact.x) AS never_underestimates,
           CAST(FLOOR(((SELECT MIN(e) FROM est) - exact.x) * 1e6 / exact.x) AS BIGINT)
               AS over_micro
    FROM exact
    """,
)
def a39_selfjoin_size_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A39: join-size estimation from count-min sketches — the planner
    primitive that decides broadcast vs shuffle vs salt BEFORE running
    a join: the self-join size of lineitem on l_suppkey (the second
    frequency moment Σc(k)², i.e. the join's output rows) estimated as
    the MINIMUM over 3 hash rows of the sketch's cell-wise
    sum-of-squares, against the exact value computed alongside. CM
    inner products can only OVERestimate (colliding keys add cross
    terms), so `never_underestimates` is a structural invariant the
    oracle states, and `over_micro` is the realized overestimate. The
    sketch is 3x1024 integer cells — constant size however many keys —
    built with the repo's portable md5+affine hashes, so DuckDB
    rebuilds it bit-for-bit. One scan feeds both sketch and exact; at
    100 TB only the 3072-cell sketch would be kept per partition and
    merged (cells add), never the per-key map."""
    li = t(spark, sf_dir, "lineitem")
    keyed = li.select(
        portable_hash32(F.col("l_suppkey").cast("string")).alias("h")
    )
    cells = None
    for j in range(3):
        part = keyed.select(F.lit(j).alias("j"), _cm_cell(F.col("h"), j).alias("cell"))
        cells = part if cells is None else cells.unionByName(part)
    cm = cells.groupBy("j", "cell").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    est = cm.groupBy("j").agg(F.sum(F.col("c") * F.col("c")).alias("e"))
    est_min = est.agg(F.min("e").cast("bigint").alias("estimated_size"))
    exact = (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("exact_size"))
    )
    return exact.crossJoin(F.broadcast(est_min)).select(
        "exact_size",
        "estimated_size",
        (F.col("estimated_size") >= F.col("exact_size")).alias("never_underestimates"),
        F.floor(
            (F.col("estimated_size") - F.col("exact_size")) * 1e6 / F.col("exact_size")
        )
        .cast("bigint")
        .alias("over_micro"),
    )


@register(
    "a40_median_of_medians",
    """
    WITH cust AS (
        SELECT c_nationkey,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    ),
    per_nation AS (
        SELECT c_nationkey, CAST(quantile_disc(cents, 0.5) AS BIGINT) AS med
        FROM cust GROUP BY c_nationkey
    ),
    mom AS (
        SELECT CAST(quantile_disc(med, 0.5) AS BIGINT) AS mom FROM per_nation
    ),
    gl AS (
        SELECT CAST(quantile_disc(cents, 0.5) AS BIGINT) AS gmed,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM cust
    ),
    rank_of AS (
        SELECT CAST(SUM(CASE WHEN cents < mom THEN 1 ELSE 0 END) AS BIGINT) AS below
        FROM cust, mom
    )
    SELECT gl.gmed AS global_median_cents,
           mom.mom AS mom_cents,
           CAST((SELECT COUNT(*) FROM per_nation) AS BIGINT) AS n_groups,
           CAST(FLOOR(rank_of.below * 1e6 / gl.n) AS BIGINT) AS rank_of_mom_micro,
           (rank_of.below * 5 >= gl.n AND rank_of.below * 5 <= gl.n * 4)
               AS mom_within_band
    FROM gl, mom, rank_of
    """,
)
def a40_median_of_medians(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A40: federated quantiles — the median-of-medians a fleet of
    sites (or a per-partition first pass) reports when raw rows can't
    leave the group, against the true global median computed centrally:
    per-nation exact medians (25 groups), their median, the global
    median, and the MoM's exact rank in the global order (the quality
    certificate — medians-of-groups always land in the middle band,
    here checked as a cross-multiplied 20-80% test). All quantiles are
    exact discrete elements (GK accuracy > n == quantile_disc), the
    rank is an integer count — every column hash-compares. Plan: two
    hash aggs + 1-row broadcasts; the 25-row medians frame is the only
    'federated' traffic, exactly the point of the technique."""
    c = t(spark, sf_dir, "customer")
    cust = c.select(
        "c_nationkey", F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents")
    )
    per_nation = cust.groupBy("c_nationkey").agg(
        F.percentile_approx("cents", 0.5, 10_000_000).cast("bigint").alias("med")
    )
    mom = per_nation.agg(
        F.percentile_approx("med", 0.5, 10_000_000).cast("bigint").alias("mom"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
    )
    glob = cust.agg(
        F.percentile_approx("cents", 0.5, 10_000_000).cast("bigint").alias("gmed"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    ranked = (
        cust.crossJoin(F.broadcast(mom))
        .agg(
            F.sum(F.when(F.col("cents") < F.col("mom"), 1).otherwise(0))
            .cast("bigint")
            .alias("below"),
            F.first("mom").alias("mom"),
            F.first("n_groups").alias("n_groups"),
        )
    )
    return ranked.crossJoin(F.broadcast(glob)).select(
        F.col("gmed").alias("global_median_cents"),
        F.col("mom").alias("mom_cents"),
        "n_groups",
        F.floor(F.col("below") * 1e6 / F.col("n")).cast("bigint").alias("rank_of_mom_micro"),
        ((F.col("below") * 5 >= F.col("n")) & (F.col("below") * 5 <= F.col("n") * 4)).alias(
            "mom_within_band"
        ),
    )


@register(
    "p19_schema_drift_audit",
    """
    SELECT 'o_orderkey' AS column_name, 'bigint' AS v1_type, 'int' AS v2_type,
           'type_changed' AS change
    UNION ALL
    SELECT 'o_orderpriority', 'string', NULL, 'removed'
    UNION ALL
    SELECT 'o_orderstatus', NULL, 'string', 'added'
    UNION ALL
    SELECT 'o_totalprice', 'double', 'double', 'unchanged'
    ORDER BY column_name
    """,
)
def p19_schema_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P19: schema-drift audit — diff the ACTUAL schemas of two written
    table versions (the upstream-contract check that runs before any
    data comparison makes sense): v2 narrows a key type, drops a
    column, and adds another; the audit reads both parquet footers and
    reports per-column added/removed/type_changed/unchanged. The
    result frame is O(columns) driver metadata (like m10's CV params —
    an allowlisted local frame); the oracle states the expected
    contract literally, so a silent writer-side schema change flips
    the hash. At 100 TB this is a footer-metadata operation — no data
    pages are read."""
    from realestate_engine.registry import stable_tmp

    o = t(spark, sf_dir, "orders")
    v1_dir, v2_dir = stable_tmp("p19_v1"), stable_tmp("p19_v2")
    o.select("o_orderkey", "o_totalprice", "o_orderpriority").write.mode(
        "overwrite"
    ).parquet(v1_dir)
    o.select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        "o_totalprice",
        "o_orderstatus",
    ).write.mode("overwrite").parquet(v2_dir)
    s1 = dict(spark.read.parquet(v1_dir).dtypes)
    s2 = dict(spark.read.parquet(v2_dir).dtypes)
    rows = []
    for col in sorted(set(s1) | set(s2)):
        t1, t2 = s1.get(col), s2.get(col)
        change = (
            "added" if t1 is None
            else "removed" if t2 is None
            else "type_changed" if t1 != t2
            else "unchanged"
        )
        rows.append((col, t1, t2, change))
    return spark.createDataFrame(
        rows, "column_name string, v1_type string, v2_type string, change string"
    ).orderBy("column_name")


@register(
    "a42_bitmap_distinct_rollup",
    f"""
    WITH lanes AS (
        SELECT o_orderpriority,
               o_custkey // 64 AS lane,
               BIT_OR({_bit_sql('o_custkey % 64')}) AS bits
        FROM orders
        GROUP BY o_orderpriority, o_custkey // 64
    ),
    per_group AS (
        SELECT o_orderpriority,
               CAST(SUM(BIT_COUNT(bits)) AS BIGINT) AS n_distinct
        FROM lanes GROUP BY o_orderpriority
    ),
    global_lanes AS (
        SELECT lane, BIT_OR(bits) AS bits FROM lanes GROUP BY lane
    ),
    rolled AS (
        SELECT CAST(SUM(BIT_COUNT(bits)) AS BIGINT) AS n_distinct
        FROM global_lanes
    ),
    direct AS (
        SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n FROM orders
    )
    SELECT o_orderpriority, n_distinct,
           (SELECT rolled.n_distinct = direct.n FROM rolled, direct) AS rollup_exact
    FROM per_group
    UNION ALL
    SELECT 'ALL', rolled.n_distinct,
           rolled.n_distinct = direct.n
    FROM rolled, direct
    ORDER BY o_orderpriority
    """,
)
def a42_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A42: EXACT mergeable distinct counts via bitmaps — the roaring-
    bitmap pattern warehouses use when a18's HLL error is not
    acceptable: per group, distinct customers are a set of 64-bit
    lanes (lane = key div 64, bit = key mod 64) built by bit_or;
    cardinality = sum of popcounts; and unlike plain counts the lane
    bitmaps MERGE losslessly — the global figure is the OR of the
    per-group lanes, never a rescan — with the in-plan proof
    rollup_exact comparing the merged rollup to a direct
    count-distinct. Lane state is |key-space|/64 bits spread across
    ordinary rows (shuffled by lane like any aggregate), so the
    pattern scales horizontally where a driver-side bitset cannot.
    Spark's shiftleft wraps at bit 63 while DuckDB raises — the
    oracle spells bit 63 as the min-BIGINT literal (j10's trick)."""
    o = t(spark, sf_dir, "orders")
    lanes = o.groupBy(
        "o_orderpriority", (F.col("o_custkey") / 64).cast("long").alias("lane")
    ).agg(F.bit_or(F.expr("shiftleft(1L, CAST(o_custkey % 64 AS INT))")).alias("bits"))
    per_group = lanes.groupBy("o_orderpriority").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n_distinct")
    )
    global_lanes = lanes.groupBy("lane").agg(F.bit_or("bits").alias("bits"))
    rolled = global_lanes.agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n_distinct")
    )
    direct = o.agg(F.count_distinct("o_custkey").cast("bigint").alias("n"))
    proof = rolled.crossJoin(F.broadcast(direct)).select(
        F.col("n_distinct"), (F.col("n_distinct") == F.col("n")).alias("rollup_exact")
    )
    return (
        per_group.crossJoin(F.broadcast(proof.select("rollup_exact")))
        .select("o_orderpriority", "n_distinct", "rollup_exact")
        .unionByName(
            proof.select(
                F.lit("ALL").alias("o_orderpriority"), "n_distinct", "rollup_exact"
            )
        )
        .orderBy("o_orderpriority")
    )


_HQ_BUCKETS = 64
_HQ_MAX_CENTS = 60_000_000  # fixed domain: orders totalprice < 600k


@register(
    "a43_histogram_quantile_rollup",
    f"""
    WITH cents AS (
        SELECT o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
        FROM orders
    ),
    hist AS (
        SELECT o_orderpriority,
               LEAST(c * {_HQ_BUCKETS} // {_HQ_MAX_CENTS}, {_HQ_BUCKETS - 1}) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM cents GROUP BY 1, 2
    ),
    merged AS (
        SELECT bucket, CAST(SUM(n) AS BIGINT) AS n FROM hist GROUP BY bucket
    ),
    tot AS (SELECT SUM(n) AS total FROM merged),
    med_bucket AS (
        SELECT MIN(bucket) AS mb FROM (
            SELECT bucket,
                   SUM(n) OVER (ORDER BY bucket) AS cum,
                   (SELECT total FROM tot) AS total
            FROM merged
        ) WHERE cum * 2 >= total
    ),
    exact AS (
        SELECT CAST(quantile_disc(c, 0.5) AS BIGINT) AS med FROM cents
    )
    SELECT CAST((SELECT mb FROM med_bucket) AS BIGINT) AS median_bucket,
           CAST((SELECT mb FROM med_bucket) * {_HQ_MAX_CENTS} // {_HQ_BUCKETS} AS BIGINT)
               AS bucket_lo_cents,
           CAST(((SELECT mb FROM med_bucket) + 1) * {_HQ_MAX_CENTS} // {_HQ_BUCKETS} AS BIGINT)
               AS bucket_hi_cents,
           exact.med AS exact_median_cents,
           (exact.med >= (SELECT mb FROM med_bucket) * {_HQ_MAX_CENTS} // {_HQ_BUCKETS}
            AND exact.med < ((SELECT mb FROM med_bucket) + 1) * {_HQ_MAX_CENTS} // {_HQ_BUCKETS})
               AS median_in_bucket
    FROM exact
    """,
)
def a43_histogram_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A43: mergeable quantiles via fixed-domain histograms — the
    third tier of the quantile stack (a6/a20 exact; a34 weighted;
    this one MERGEABLE): each group keeps a 64-bucket integer
    histogram over a fixed cents domain; histograms merge by summing
    buckets (associative, unlike any exact quantile state), and the
    merged histogram answers the median to within one bucket width —
    the in-plan proof checks the exact median falls inside the bucket
    the merged sketch selects. The cumulative scan runs over the
    <=64-row merged frame (tiny ordered frame — DuckDB windows it; the
    Spark side uses the broadcast rank idiom, no unpartitioned
    WindowExec). This is how a 1000-executor fleet reports latency
    percentiles without shipping raw values."""
    o = t(spark, sf_dir, "orders")
    cents = o.select(
        "o_orderpriority", F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")
    )
    bucket = F.least(
        F.expr(f"c * {_HQ_BUCKETS} div {_HQ_MAX_CENTS}"), F.lit(_HQ_BUCKETS - 1)
    )
    hist = cents.groupBy("o_orderpriority", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    merged = hist.groupBy("bucket").agg(F.sum("n").cast("bigint").alias("n"))
    tot = merged.agg(F.sum("n").alias("total"))
    # cumulative over the <=64-row bucket frame via the broadcast
    # non-equi self-join idiom (no unpartitioned window)
    m2 = merged.select(F.col("bucket").alias("b2"), F.col("n").alias("n2"))
    cum = (
        merged.crossJoin(F.broadcast(m2))
        .filter(F.col("b2") <= F.col("bucket"))
        .groupBy("bucket")
        .agg(F.sum("n2").alias("cum"))
    )
    med_bucket = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum") * 2 >= F.col("total"))
        .agg(F.min("bucket").cast("bigint").alias("mb"))
    )
    exact = cents.agg(
        F.percentile_approx("c", 0.5, 10_000_000).cast("bigint").alias("med")
    )
    lo = F.expr(f"mb * {_HQ_MAX_CENTS} div {_HQ_BUCKETS}")
    hi = F.expr(f"(mb + 1) * {_HQ_MAX_CENTS} div {_HQ_BUCKETS}")
    return med_bucket.crossJoin(F.broadcast(exact)).select(
        F.col("mb").alias("median_bucket"),
        lo.cast("bigint").alias("bucket_lo_cents"),
        hi.cast("bigint").alias("bucket_hi_cents"),
        F.col("med").alias("exact_median_cents"),
        ((F.col("med") >= lo) & (F.col("med") < hi)).alias("median_in_bucket"),
    )


@register(
    "p22_survivorship_golden_record",
    """
    WITH ranked AS (
        SELECT o_custkey, o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus, o_orderdate,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END DESC,
                            o_orderdate DESC,
                            CAST(ROUND(o_totalprice * 100) AS BIGINT) DESC,
                            o_orderkey ASC
               ) AS rn
        FROM orders
    )
    SELECT o_custkey,
           o_orderkey AS golden_orderkey,
           o_orderstatus AS golden_status,
           o_orderdate AS golden_date,
           cents AS golden_cents
    FROM ranked WHERE rn = 1
    ORDER BY o_custkey
    """,
)
def p22_survivorship_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P22: survivorship (golden record) selection — the MDM rule
    cascade that picks ONE surviving record per entity: prefer
    finalized status, then the newest date, then the highest amount,
    then the lowest key as the deterministic last resort. The engine
    expresses the whole cascade as a single max_by over a packed
    comparison struct — ONE partial-aggregated groupBy, no window and
    no self-join (the oracle's ROW_NUMBER form is the spec; a window
    would sort every group's rows where the aggregate keeps one
    running champion per group map-side). The key tiebreak is negated
    inside the struct so lexicographic struct max implements 'lowest
    key wins'."""
    o = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    pref = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    champ = F.max(
        F.struct(
            pref.alias("p"),
            F.col("o_orderdate").alias("d"),
            cents.alias("c"),
            (-F.col("o_orderkey")).alias("nk"),
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("st"),
        )
    ).alias("g")
    return (
        o.groupBy("o_custkey")
        .agg(champ)
        .select(
            "o_custkey",
            F.col("g.k").alias("golden_orderkey"),
            F.col("g.st").alias("golden_status"),
            F.col("g.d").alias("golden_date"),
            F.col("g.c").alias("golden_cents"),
        )
        .orderBy("o_custkey")
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


@register(
    "p23_pseudonymize_join_audit",
    """
    WITH c_tok AS (
        SELECT ('0x' || SUBSTR(MD5('pepper-' || CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT AS c_tok,
               c_nationkey
        FROM customer
    ),
    o_tok AS (
        SELECT ('0x' || SUBSTR(MD5('pepper-' || CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT AS o_tok,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    joined AS (
        SELECT c.c_nationkey AS nation, o.cents
        FROM o_tok o JOIN c_tok c ON o.o_tok = c.c_tok
    ),
    direct AS (
        SELECT c.c_nationkey AS nation, CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    collisions AS (
        SELECT COUNT(*) - COUNT(DISTINCT c_tok) AS n FROM c_tok
    )
    SELECT j.nation,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(j.cents) AS BIGINT) AS revenue_cents,
           CAST(CASE WHEN COUNT(*) = (SELECT COUNT(*) FROM direct d WHERE d.nation = j.nation)
                      AND SUM(j.cents) = (SELECT SUM(d.cents) FROM direct d WHERE d.nation = j.nation)
                THEN 1 ELSE 0 END AS BIGINT) AS join_preserved,
           CAST((SELECT n FROM collisions) AS BIGINT) AS token_collisions
    FROM joined j GROUP BY j.nation ORDER BY j.nation
    """,
)
def p23_pseudonymize_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P23: join-preserving pseudonymization — the GDPR-compliance
    counterpart of t14_pii_redaction: the natural key (custkey) is
    replaced on BOTH tables with a keyed-hash surrogate (48-bit md5
    token with a pepper, the portable-hash family), and the audit
    proves analytics survive tokenization: per nation, the
    surrogate-key join reproduces the direct join's row count and
    revenue exactly (join_preserved), and the token space is
    collision-free on this population (token_collisions = 0 — at
    100 TB the token widens, same 5-character change as every hash in
    this repo).

    Plan shape: tokenization is a per-row codegen'd expression (no
    lookup-table shuffle — deterministic keyed hashing is exactly what
    makes pseudonymized joins scale); the audit joins are ordinary
    shuffle joins; the collision census is one distinct-agg broadcast
    onto the group frame."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")

    def tok(col):
        return F.conv(F.substring(F.md5(F.concat(F.lit("pepper-"), col.cast("string"))), 1, 12), 16, 10).cast("long")

    c_tok = c.select(tok(F.col("c_custkey")).alias("c_tok"), "c_nationkey")
    o_tok = o.select(
        tok(F.col("o_custkey")).alias("o_tok"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    joined = (
        o_tok.join(c_tok, o_tok.o_tok == c_tok.c_tok)
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"), F.sum("cents").cast("long").alias("revenue_cents"))
    )
    direct = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")), o.o_custkey == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(F.count(F.lit(1)).cast("long").alias("d_n"), F.expr("CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias("d_rev"))
    )
    collisions = c_tok.agg(
        (F.count(F.lit(1)) - F.countDistinct("c_tok")).cast("long").alias("token_collisions")
    )
    return (
        joined.join(direct, "nation")
        .crossJoin(F.broadcast(collisions))
        .select(
            "nation",
            "n_orders",
            "revenue_cents",
            F.when((F.col("n_orders") == F.col("d_n")) & (F.col("revenue_cents") == F.col("d_rev")), 1)
            .otherwise(0)
            .cast("long")
            .alias("join_preserved"),
            "token_collisions",
        )
        .orderBy("nation")
    )


@register(
    "a44_trimmed_mean",
    """
    WITH vals AS (
        SELECT c.c_nationkey AS nation, CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    ranked AS (
        SELECT nation, cents,
               ROW_NUMBER() OVER (PARTITION BY nation ORDER BY cents, cents) AS rk,
               COUNT(*) OVER (PARTITION BY nation) AS n
        FROM vals
    )
    SELECT CAST(nation AS BIGINT) AS nation,
           CAST(ANY_VALUE(n) AS BIGINT) AS n,
           CAST(SUM(cents) // COUNT(*) AS BIGINT) AS raw_mean_cents,
           CAST(SUM(CASE WHEN rk > n // 10 AND rk <= n - n // 10 THEN cents END)
                // SUM(CASE WHEN rk > n // 10 AND rk <= n - n // 10 THEN 1 ELSE 0 END)
                AS BIGINT) AS trimmed_mean_cents,
           CAST(SUM(CASE WHEN rk <= n // 10 OR rk > n - n // 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_trimmed
    FROM ranked GROUP BY nation ORDER BY nation
    """,
)
def a44_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A44: 10%-trimmed mean per nation — the robust-metric hygiene
    every experimentation/monitoring platform applies before comparing
    heavy-tailed money metrics (one whale order moves a raw mean;
    the trimmed mean drops the top and bottom decile COUNT exactly,
    floor(n/10) each side, by rank). Rank ties break on the value
    itself so trimming is deterministic; means are exact integer
    floor-division.

    Plan: one join, one nation-PARTITIONED ranking window (the
    repo-wide no-global-window discipline), one final hash-agg — the
    window input is the per-nation order list, which is also the
    natural 100 TB partition."""
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    vals = o.join(F.broadcast(c.select("c_custkey", "c_nationkey")), o.o_custkey == F.col("c_custkey")).select(
        F.col("c_nationkey").alias("nation"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    w_rk = Window.partitionBy("nation").orderBy("cents")
    w_n = Window.partitionBy("nation")
    ranked = vals.select(
        "nation",
        "cents",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    keep = (F.col("rk") > F.expr("n DIV 10")) & (F.col("rk") <= F.expr("n - n DIV 10"))
    return (
        ranked.groupBy(F.col("nation").cast("long").alias("nation"))
        .agg(
            F.first("n").cast("long").alias("n"),
            F.expr("CAST(SUM(cents) DIV COUNT(*) AS BIGINT)").alias("raw_mean_cents"),
            F.expr(
                "CAST(SUM(CASE WHEN rk > n DIV 10 AND rk <= n - n DIV 10 THEN cents END)"
                " DIV SUM(CASE WHEN rk > n DIV 10 AND rk <= n - n DIV 10 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("trimmed_mean_cents"),
            F.sum(F.when(~keep, 1).otherwise(0)).cast("long").alias("n_trimmed"),
        )
        .orderBy("nation")
    )


_ALLEN_CASE = """
    CASE
        WHEN ae < bs THEN 'before'
        WHEN as_ > be THEN 'after'
        WHEN as_ = bs AND ae = be THEN 'equals'
        WHEN ae = bs THEN 'meets'
        WHEN as_ = be THEN 'met_by'
        WHEN as_ = bs AND ae < be THEN 'starts'
        WHEN as_ = bs AND ae > be THEN 'started_by'
        WHEN ae = be AND as_ > bs THEN 'finishes'
        WHEN ae = be AND as_ < bs THEN 'finished_by'
        WHEN as_ > bs AND ae < be THEN 'during'
        WHEN as_ < bs AND ae > be THEN 'contains'
        WHEN as_ < bs AND ae > bs AND ae < be THEN 'overlaps'
        ELSE 'overlapped_by'
    END
"""


@register(
    "j13_allen_interval_algebra",
    f"""
    WITH iv AS (
        SELECT user_id, event_type,
               EPOCH_US(MIN(ts)) AS s, EPOCH_US(MAX(ts)) AS e
        FROM events GROUP BY user_id, event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.s AS as_, a.e AS ae, b.s AS bs, b.e AS be
        FROM iv a JOIN iv b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
    )
    SELECT type_a, type_b, {_ALLEN_CASE} AS relation,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY type_a, type_b, relation
    ORDER BY type_a, type_b, relation
    """,
)
def j13_allen_interval_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13: Allen's interval algebra — the COMPLETE temporal-relation
    classification (all 13 relations: before/meets/overlaps/starts/
    during/finishes, inverses, equals) that the asof/range/interval
    joins (j9/j12/temporal.py) each hard-code one slice of. Per user,
    each event type's activity span [min ts, max ts] is an interval;
    every type pair is classified with ONE branch-ordered CASE over
    exact epoch-microsecond integers (the SAME SQL text runs on both
    engines — equality cases are decided before containment, so the
    cascade is total and unambiguous), then the corpus rolls up to
    (type_a, type_b, relation) counts — the temporal-profile
    fingerprint of the event stream.

    Plan: one (user, type) agg, one per-user self-join (bounded: 5
    types -> 10 pairs per user), one rollup — all partial-agg
    shuffles keyed by user then by the 75-value rollup key."""
    ev = t(spark, sf_dir, "events")
    iv = ev.groupBy("user_id", "event_type").agg(
        F.unix_micros(F.min("ts")).alias("s"), F.unix_micros(F.max("ts")).alias("e")
    )
    a = iv.select(F.col("user_id"), F.col("event_type").alias("type_a"), F.col("s").alias("as_"), F.col("e").alias("ae"))
    b = iv.select(F.col("user_id").alias("ub"), F.col("event_type").alias("type_b"), F.col("s").alias("bs"), F.col("e").alias("be"))
    pairs = a.join(b, (a.user_id == b.ub) & (F.col("type_a") < F.col("type_b")))
    return (
        pairs.select("type_a", "type_b", F.expr(_ALLEN_CASE).alias("relation"))
        .groupBy("type_a", "type_b", "relation")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("type_a", "type_b", "relation")
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
