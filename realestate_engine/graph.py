"""Iterative graph analytics on DataFrames over two projections of the
TPC-H tables: the customer–supplier trade graph (who bought from whom,
via orders ⋈ lineitem) and the part co-purchase graph (parts on the
same order, via a lineitem self-join).

Each graph has one definition, built once per session and cached:
trade_graph, the (src, dst, d) relation every iterative trade-graph
operator except HITS reads, and part_graph, the (u < v) pairs at a
given co-occurrence support. Their oracle twins are the preludes
_TRADE_EDGES_CTES and _part_pairs_cte. The graphs are mined with
driver-side loops of distributed steps: the LOOP is on the driver,
every step of WORK is on the cluster (the MLlib ALS/KMeans shape).
PageRank and personalized PageRank share one recurrence, pagerank.

Cross-engine determinism: ranks are kept in scaled integer arithmetic
(micro-ranks, 1e12 = rank 1.0) so every contribution, damping multiply
and sum is exact BIGINT math — commutative, order-independent, and
bit-identical between Spark and DuckDB. Floating-point PageRank sums
partition-ordered doubles and cannot be hash-compared across engines;
fixed-point PageRank can. (Deterministic fixed-point accumulation is
the standard trick for reproducible distributed aggregation.)

Reference parity: the reference repo has no graph operator — this is
north-star territory (duplicate clustering in dedup.py:385 is the
other graph op; PageRank adds the iterative-convergence class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestate_engine.registry import cache_once, input_width, iterate, register, t

SCALE = 1_000_000_000_000  # 1e12 micro-rank units per unit of rank
DAMPING_NUM, DAMPING_DEN = 85, 100  # 0.85 as an exact ratio
N_ITER = 3


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected customer<->supplier trade edges, one row per directed
    pair, for every (customer, supplier) that co-occur on an order.
    Node ids are PACKED BIGINTs — customer = 2*custkey, supplier =
    2*suppkey + 1 — not strings: at 100 TB the edge distinct and every
    iteration's shuffle hash/compare 8-byte ints instead of variable-
    length strings (and the narrow key halves shuffle bytes).
    Distinct-ing first keeps the edge list a set (PageRank over a
    multigraph would double-count)."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trade graph every iterative trade-graph operator but HITS
    reads: one cached (src, dst, d) relation per session and input
    directory.

    - **Packed ids.** Nodes are BIGINTs, customer = 2*custkey and
      supplier = 2*suppkey + 1 (trade_edges), so the side of a node is
      its parity and every key is 8 bytes.
    - **Mirrored.** Each undirected trade link is two rows, (c, s) and
      (s, c), and the edge list is a set. Out-degree therefore IS
      degree, every node appears as a src, and there are no dangling
      nodes.
    - **src layout.** The relation is hash-partitioned by src, so
      per-src aggregates and joins keyed on src read it with no
      exchange.
    - **d on the edges.** d is the degree of src, attached once with a
      colocated groupBy + join; node degrees are
      ``select("src", "d").distinct()`` and no caller recounts them.
    - **Width.** input_width(orders, lineitem, 8 MB per partition):
      derived from the input bytes, one rule for every consumer.

    cache_once keys the relation by its plan, so every caller in a
    session shares one materialization until the cache is cleared."""
    width = input_width(spark, sf_dir, "orders", "lineitem", mb_per_part=8)
    rep = trade_edges(spark, sf_dir).repartition(width, "src")
    deg = rep.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return cache_once(rep.join(deg, "src"))


_MIN_SUPPORT = 2  # co-occurrence support threshold: the projection sparsifier


def part_graph(spark: SparkSession, sf_dir: str, min_support: int) -> DataFrame:
    """The part co-purchase graph every part-projection operator reads:
    one cached (u, v) relation per session, input directory and
    support threshold.

    - **Oriented.** Each undirected link is one row with u < v (part
      keys, from a lineitem self-join on l_orderkey); consumers that
      need both directions mirror it themselves.
    - **Support.** (u, v) is an edge when the two parts co-occur on at
      least ``min_support`` orders. 1 is the raw projection
      (graph_triangle_count); _MIN_SUPPORT = 2 is the market-basket
      sparsifier (clustering coefficient, k-truss, Adamic-Adar).
    - **Why support sparsifies.** Co-occurrence projections DENSIFY
      with data volume: the raw part projection grows 8.9k -> 116k ->
      1.2M edges across the three test SFs (the raw supplier
      projection is already complete at sf0.01), while the
      support-filtered edge set stays ~2.5-3.9k. Without it wedge
      counts saturate and every wedge join goes superlinear (measured
      18s at sf0.1 on the raw supplier graph); with it the operators
      are flat across SFs.

    cache_once keys the relation by its plan, so each min_support
    value is one materialization shared by its callers in a session."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return cache_once(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= min_support)
        .select("u", "v")
    )


def pagerank(edges_p: DataFrame, n_iter: int, seeds: DataFrame | None = None) -> DataFrame:
    """Fixed-point PageRank over a (src, dst, d) edge relation with the
    trade_graph contract (mirrored, d = degree of src): returns
    (node, rank_micro BIGINT) for every node. Per round each node's
    rank flows out as ``rank div d`` per edge and the new rank is
    base + 85% of the inflow, all in BIGINT.

    Without ``seeds`` the walk teleports anywhere: init SCALE div N,
    base 15% of SCALE div N over the N nodes. ``seeds`` (a frame with
    a ``node`` column) makes it personalized PageRank: init and base go
    to the seeds present in the graph only, split over their count.

    The recurrence is ONE spark.sql statement over the bound edge
    relation, not a driver loop of DataFrame calls: the physical plan
    is the same join/agg tree, but plan composition is one parse
    instead of ~30 py4j round-trips (measured build 0.41→0.25s at
    sf0.1). spark.sql binds the frames as temporary views and drops
    them once the statement is analyzed, and dropping a view uncaches
    the cache entry whose plan equals the view's — trade_graph's. So
    each frame is bound behind a no-op filter: the view's plan then
    differs from the cached one, the query still reads the cache, and
    the optimizer removes the filter (the physical plan is unchanged)."""
    base = f"(15 * {SCALE}) div (100 * first(r.n))"
    frames = {"e": edges_p}
    if seeds is None:
        head = f"""
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    r0 AS (SELECT node, {SCALE} div n AS rank_micro, n FROM nodes CROSS JOIN nn)"""
        hint = seed_join = ""
    else:
        head = f"""
    sd AS (SELECT DISTINCT s.node FROM {{s}} s JOIN nodes ON nodes.node = s.node),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sd),
    r0 AS (
        SELECT nodes.node,
               CASE WHEN sd.node IS NULL THEN 0 ELSE {SCALE} div n END AS rank_micro, n
        FROM nodes LEFT JOIN sd ON sd.node = nodes.node CROSS JOIN nn
    )"""
        base = f"CASE WHEN max(s.node) IS NULL THEN 0 ELSE {base} END"
        hint = "/*+ BROADCAST(s) */ "
        seed_join = "\n        LEFT JOIN sd s ON s.node = e.dst"
        frames["s"] = seeds
    ctes = ["nodes AS (SELECT DISTINCT src AS node FROM {e})", head]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""
    r{i} AS (
        SELECT {hint}e.dst AS node,
               {base}
                 + ({DAMPING_NUM} * SUM(r.rank_micro div e.d)) div {DAMPING_DEN} AS rank_micro,
               first(r.n) AS n
        FROM {{e}} e JOIN r{i - 1} r ON r.node = e.src{seed_join}
        GROUP BY e.dst
    )"""
        )
    return edges_p.sparkSession.sql(
        f"WITH {','.join(ctes)}\n    SELECT node, rank_micro FROM r{n_iter}",
        **{k: v.where(F.lit(True)) for k, v in frames.items()},
    )


# The trade graph as oracle SQL — trade_edges' packed, mirrored edge
# set, computed once per statement. Every trade-graph oracle opens with
# it and appends its own CTEs after a comma (dedup's _CLUSTERS_CTES
# composition).
_TRADE_EDGES_CTES = """
    WITH pairs AS (
        SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS MATERIALIZED (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs
    )"""


def _part_pairs_cte(min_support: int) -> str:
    """part_graph as oracle SQL: the (u < v) co-purchase pairs with
    support >= min_support, computed once per statement. Part-graph
    oracles open with it and append their own CTEs after a comma, as
    the trade-graph oracles do with _TRADE_EDGES_CTES."""
    return f"""
    WITH pairs AS MATERIALIZED (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {min_support}
    )"""


def _pagerank_round_sql(prev: str, out: str, seeded: bool) -> str:
    """One unrolled oracle round of pagerank's recurrence."""
    share = f"(15 * {SCALE}) // (100 * nn.n)"
    base = f"ANY_VALUE({share})"
    seed_join = ""
    if seeded:
        base = f"MAX(CASE WHEN s.node IS NOT NULL THEN {share} ELSE 0 END)"
        seed_join = " LEFT JOIN seeds s ON s.node = e.dst"
    return f"""
    {out} AS (
        SELECT e.dst AS node,
               {base}
                 + (85 * SUM(r.rank_micro // deg.d)) // 100 AS rank_micro
        FROM edges e
        JOIN deg ON deg.src = e.src
        JOIN {prev} r ON r.node = e.src{seed_join}
        CROSS JOIN nn
        GROUP BY e.dst
    )"""


_PAGERANK_ORACLE = f"""{_TRADE_EDGES_CTES},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    r0 AS (SELECT node, {SCALE} // n AS rank_micro FROM nodes, nn),
    {",".join(_pagerank_round_sql(f"r{i}", f"r{i + 1}", False) for i in range(N_ITER))}
    SELECT CAST(node AS BIGINT) AS node, CAST(rank_micro AS BIGINT) AS rank_micro
    FROM r{N_ITER}
    ORDER BY rank_micro DESC, node
    LIMIT 50
"""


@register("graph_pagerank_trade", _PAGERANK_ORACLE)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank (3 fixed-point iterations, damping 0.85) over
    the bipartite customer<->supplier trade graph; top-50 hubs. The
    oracle unrolls the identical integer recurrence as three chained
    CTEs — every arithmetic step is BIGINT, so Spark and DuckDB agree
    bit-for-bit (a floating-point PageRank could not be hash-compared:
    its per-group sums are partition-order dependent)."""
    return (
        pagerank(trade_graph(spark, sf_dir), N_ITER)
        .orderBy(F.desc("rank_micro"), "node")
        .limit(50)
    )


def _lp_round_sql(prev: str, out: str) -> str:
    """One unrolled label-propagation round: per-node neighbor-label
    vote counts, argmax with (cnt DESC, label ASC) tie-break."""
    return f"""
    {out} AS (
        SELECT src AS node, label FROM (
            SELECT e.src, l.label, COUNT(*) AS cnt
            FROM edges e JOIN {prev} l ON l.node = e.dst
            GROUP BY e.src, l.label
        )
        QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY cnt DESC, label ASC) = 1
    )"""


_LP_CTES = f"""{_TRADE_EDGES_CTES},
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    {_lp_round_sql("l0", "l1")},
    {_lp_round_sql("l1", "l2")},
    {_lp_round_sql("l2", "l3")}"""

_LP_ORACLE = f"""{_LP_CTES}
    SELECT CAST(label AS BIGINT) AS community, CAST(COUNT(*) AS BIGINT) AS size
    FROM l3 GROUP BY label
    ORDER BY size DESC, community
    LIMIT 25
"""


def lp_labels(edges_p: DataFrame, rounds: int = 3) -> DataFrame:
    """Synchronous label propagation over a cached src-partitioned edge
    list: ``rounds`` iterations of neighbor-majority vote (ties broken
    by smallest label), returning (node, label). Deterministic — no
    RNG, no update-order dependence — so oracle SQL can unroll the
    identical recurrence. Shared by graph_label_propagation and
    graph_modularity."""
    labels = edges_p.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        votes = (
            edges_p.join(labels.select(F.col("node").alias("dst"), "label"), "dst")
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            votes.groupBy("src")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("top"))
            .select(F.col("src").alias("node"), (-F.col("top.neg")).alias("label"))
        )
    # r15 (guide §1.2): cache the final labels. graph_modularity reads
    # this relation THREE times (degree-mass join + both endpoints of
    # the within-community edge join), so the uncached form replayed
    # the whole 3-round vote loop per consumer (measured 5.7s warm);
    # the cache also makes graph_label_propagation and graph_modularity
    # share ONE materialized LP result (identical canonicalized plan).
    return cache_once(labels)


@register("graph_label_propagation", _LP_ORACLE)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: synchronous label propagation (3 rounds) over the trade
    graph — community detection by iterated neighbor-majority vote:
    each round every node adopts the most frequent label among its
    neighbors, ties broken by smallest label, so the fixed point is
    fully deterministic (no RNG, no update-order dependence). The loop
    is the PageRank shape: cached src-partitioned edges, per round one
    join (labels -> edges) + one count agg + one argmax-per-node pick
    via max(struct(cnt, -label)) — partial-aggregated, shuffle keyed by
    node. Returns (community, size) for the 25 largest communities.
    Oracle: the identical recurrence unrolled as three chained CTEs
    (integer counts + integer labels — no float anywhere, so the
    argmax is bit-exact); tests additionally re-run it in pure Python."""
    labels = lp_labels(trade_graph(spark, sf_dir), 3)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("size"))
        .select(F.col("label").cast("bigint").alias("community"), "size")
        .orderBy(F.desc("size"), "community")
        .limit(25)
    )


# Newman modularity term for one community, as ONE shared SQL text used
# verbatim on both engines: counts stay BIGINT up to the final two IEEE
# steps (correctly-rounded double divide/multiply, then FLOOR), so the
# expression is bit-reproducible cross-engine at any graph size —
# unlike an all-integer e*1e9//m form, whose numerator overflows BIGINT
# once the directed edge count passes ~9e9 (a 100 TB graph would).
_MODULARITY_TERM = (
    "CAST(FLOOR(CAST(within_directed AS DOUBLE) / CAST(m2 AS DOUBLE)"
    " * 1000000000) - FLOOR(CAST(degree_sum AS DOUBLE) / CAST(m2 AS DOUBLE)"
    " * (CAST(degree_sum AS DOUBLE) / CAST(m2 AS DOUBLE))"
    " * 1000000000) AS BIGINT)"
)

_MODULARITY_ORACLE = f"""{_LP_CTES},
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    tot AS (SELECT COUNT(*) AS m2 FROM edges),
    comm AS (
        SELECT l.label AS community, COUNT(*) AS size,
               SUM(deg.d) AS degree_sum
        FROM l3 l JOIN deg ON deg.src = l.node
        GROUP BY l.label
    ),
    within AS (
        SELECT ls.label AS community, COUNT(*) AS e_dir
        FROM edges e
        JOIN l3 ls ON ls.node = e.src
        JOIN l3 ld ON ld.node = e.dst
        WHERE ls.label = ld.label
        GROUP BY ls.label
    ),
    terms AS (
        SELECT c.community, c.size, c.degree_sum,
               COALESCE(w.e_dir, 0) AS within_directed, tot.m2
        FROM comm c LEFT JOIN within w ON w.community = c.community, tot
    )
    SELECT CAST(community AS BIGINT) AS community,
           CAST(size AS BIGINT) AS size,
           CAST(degree_sum AS BIGINT) AS degree_sum,
           CAST(within_directed AS BIGINT) AS within_directed,
           {_MODULARITY_TERM} AS modularity_term_nano
    FROM terms
    ORDER BY size DESC, community
    LIMIT 25
"""


@register("graph_modularity", _MODULARITY_ORACLE)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity audit of the label-propagation communities —
    the "did community detection find real structure" readout: for each
    of the 25 largest LP communities, its size, degree mass d_c, count
    of within-community directed edges e_c, and its modularity
    contribution e_c/2m - (d_c/2m)^2 in nano units (global Q = the sum
    of the full column; each term is independently floored, so the sum
    is order-free). Plan shape: the LP loop reuses the cached
    src-partitioned edge relation (lp_labels — the PageRank posture);
    the audit itself is one node-sized label join per endpoint plus two
    hash aggs, all keyed on node/label — no edge-sized sort, no
    all-pairs stage. Determinism: every count is BIGINT; the only
    floating-point is the final shared-text divide/multiply/FLOOR
    (_MODULARITY_TERM), identical on both engines and correctly rounded
    per IEEE-754, so hash-comparable at any SF."""
    edges_p = trade_graph(spark, sf_dir)
    labels = lp_labels(edges_p, 3)
    deg = edges_p.select("src", "d").distinct()
    tot = edges_p.agg(F.count(F.lit(1)).alias("m2"))
    comm = (
        labels.join(deg, labels.node == deg.src)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.sum("d").alias("degree_sum"),
        )
        .withColumnRenamed("label", "community")
    )
    within = (
        edges_p.join(labels.select(F.col("node").alias("src"), F.col("label").alias("ls")), "src")
        .join(labels.select(F.col("node").alias("dst"), F.col("label").alias("ld")), "dst")
        .where(F.col("ls") == F.col("ld"))
        .groupBy(F.col("ls").alias("community"))
        .agg(F.count(F.lit(1)).alias("e_dir"))
    )
    return (
        comm.join(within, "community", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("community"),
            F.col("size"),
            F.col("degree_sum"),
            F.coalesce("e_dir", F.lit(0)).alias("within_directed"),
            F.col("m2"),
        )
        .select(
            F.col("community").cast("bigint").alias("community"),
            F.col("size").cast("bigint").alias("size"),
            F.col("degree_sum").cast("bigint").alias("degree_sum"),
            F.col("within_directed").cast("bigint").alias("within_directed"),
            F.expr(_MODULARITY_TERM).alias("modularity_term_nano"),
        )
        .orderBy(F.desc("size"), "community")
        .limit(25)
    )


_PPR_ORACLE = f"""{_TRADE_EDGES_CTES},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    seeds AS (
        SELECT DISTINCT c_custkey * 2 AS node FROM customer WHERE c_nationkey = 0
    ),
    nn AS (SELECT COUNT(*) AS n FROM seeds JOIN nodes USING (node)),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    r0 AS (
        SELECT n.node,
               CASE WHEN s.node IS NOT NULL THEN {SCALE} // nn.n ELSE 0 END AS rank_micro
        FROM nodes n LEFT JOIN seeds s ON s.node = n.node CROSS JOIN nn
    ),
    {",".join(_pagerank_round_sql(f"r{i}", f"r{i + 1}", True) for i in range(N_ITER))}
    SELECT CAST(node AS BIGINT) AS node, CAST(rank_micro AS BIGINT) AS rank_micro
    FROM r{N_ITER} WHERE rank_micro > 0
    ORDER BY rank_micro DESC, node
    LIMIT 50
"""


@register("graph_personalized_pagerank", _PPR_ORACLE)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: personalized PageRank — random walks teleport back to a SEED
    SET (nation-0 customers) instead of everywhere, so the stationary
    mass measures proximity TO THE SEEDS: the graph-recommendation /
    trust-propagation primitive (who does this cohort actually trade
    with, transitively?). Same fixed-point BIGINT recurrence as
    graph_pagerank_trade (pagerank with a seed set; bit-exact vs the
    unrolled-CTE oracle); the only changes are the seed-restricted init
    and base term."""
    seeds = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_nationkey") == 0)
        .select((F.col("c_custkey") * 2).alias("node"))
    )
    return (
        pagerank(trade_graph(spark, sf_dir), N_ITER, seeds)
        .where(F.col("rank_micro") > 0)
        .orderBy(F.desc("rank_micro"), "node")
        .limit(50)
    )


KCORE_K = 3
KCORE_ROUNDS = 8


def kcore_peel(edges: DataFrame, k: int = KCORE_K, n_rounds: int = KCORE_ROUNDS) -> DataFrame:
    """Bounded-round k-core peeling: each round drops every node whose
    CURRENT degree is < k (and all its edges), simultaneously — the
    synchronous peel, so the result is fully deterministic and
    independent of any per-node processing order. After enough rounds
    the edge set reaches the true k-core fixpoint; n_rounds bounds the
    driver loop the same way N_ITER bounds PageRank, and the pytest
    convergence check asserts the fixpoint is reached on the testdata
    (an extra round is a no-op once converged).

    Scale shape per round: one count agg on src (edges arrive mirrored,
    so src-degree IS node-degree) + two semi-join filters keyed on the
    same columns — all shuffles on node ids, state bounded by |nodes|.
    Rounds run through ``iterate``, probed by the edge count: peeling
    only ever REMOVES edges, so an equal count between rounds is the
    fixpoint, and a budget that runs out before it raises. On the
    testdata the peel converges in 2-3 of the 8 budgeted rounds."""

    def step(e: DataFrame, r: int) -> DataFrame:
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        return (
            e.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
        )

    e = iterate(edges, step, n_rounds, probe=lambda s: s.count())[-1]
    return (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .select(F.col("src").cast("bigint").alias("node"), "core_degree")
    )


def _kcore_round_sql(prev: str, out: str, k: int) -> str:
    """One unrolled synchronous peel: recount degrees over the current
    edge set, keep edges whose BOTH endpoints still have degree >= k."""
    return f"""
    d_{out} AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM {prev} GROUP BY src),
    {out} AS MATERIALIZED (
        SELECT e.src, e.dst FROM {prev} e
        JOIN d_{out} a ON a.src = e.src AND a.deg >= {k}
        JOIN d_{out} b ON b.src = e.dst AND b.deg >= {k}
    )"""


_KCORE_ORACLE = (
    _TRADE_EDGES_CTES
    + ","
    + ",".join(
        _kcore_round_sql(f"e{i}" if i else "edges", f"e{i + 1}", KCORE_K)
        for i in range(KCORE_ROUNDS)
    )
    + f"""
    SELECT CAST(src AS BIGINT) AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM e{KCORE_ROUNDS} GROUP BY src ORDER BY node
    """
)


@register("graph_kcore", _KCORE_ORACLE)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5: k-core decomposition (k=3, 8 synchronous peeling rounds)
    over the trade graph — the densest-substructure filter behind
    community mining, spam/bot subgraph isolation, and graph-sample
    pruning: repeatedly drop nodes with degree < k until only the
    mutually-dense core remains. The oracle unrolls the identical
    simultaneous peel as chained CTEs; integer node ids and counts make
    every round hash-exact across engines."""
    return kcore_peel(trade_graph(spark, sf_dir).select("src", "dst")).orderBy("node")


@register(
    "graph_link_prediction",
    _TRADE_EDGES_CTES
    + """,
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
    mid AS (SELECT src FROM deg WHERE d <= 64),
    two_hop AS (
        SELECT e1.src AS a, e2.dst AS b, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM edges e1
        JOIN mid m ON m.src = e1.dst
        JOIN edges e2 ON e1.dst = e2.src AND e1.src < e2.dst
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT t.a, t.b, t.n_common
        FROM two_hop t
        WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = t.a AND e.dst = t.b)
    )
    SELECT c.a AS node_a, c.b AS node_b, c.n_common,
           da.d AS deg_a, db.d AS deg_b,
           CAST((c.n_common * 1000000) // (da.d + db.d - c.n_common) AS BIGINT) AS jaccard_micro
    FROM cand c JOIN deg da ON da.src = c.a JOIN deg db ON db.src = c.b
    ORDER BY jaccard_micro DESC, node_a, node_b
    LIMIT 50
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6: link prediction by common-neighbor Jaccard — score
    NON-adjacent node pairs by |N(a) ∩ N(b)| / |N(a) ∪ N(b)|, the
    classic unsupervised recommender for "who should trade next"
    (here: customers with near-identical supplier sets, suppliers with
    near-identical customer bases — the bipartite graph makes every
    2-hop pair same-side and thus never an existing edge; the anti
    join states the contract anyway). Candidates come from the 2-hop
    join, whose volume is the sum of SQUARED middle-node degrees — so
    hub middle nodes (degree > 64) are excluded from candidate
    generation, identically on both engines: without the cap one
    sf0.1 hub contributed ~10^8 pairs and OOM'd the driver, and a
    neighbor shared via a node everyone touches is no similarity
    signal (the same argument as the containment join's df cap).
    n_common therefore counts common NON-HUB neighbors; the Jaccard
    denominators keep full degrees. Counts are exact BIGINTs, the
    Jaccard floor-scaled micro units, top-50 via TakeOrdered."""
    e = trade_graph(spark, sf_dir)
    deg = e.select("src", "d").distinct()
    # HUB CAP on the middle node: the 2-hop expansion is sum of deg(m)^2
    # over common neighbors m, so one hub with degree 10^4 contributes
    # 10^8 pairs (OOM'd the sweep at sf0.1 before the cap). Neighbors
    # shared via a node everyone touches carry no similarity signal
    # anyway (the df-cap argument from dedup_containment), so middle
    # nodes above degree 64 are excluded from candidate generation —
    # m is e2's src, so the cap is a filter on e2's own d; Jaccard
    # denominators still use FULL degrees.
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("m"))
    e2 = e.where(F.col("d") <= 64).select(F.col("src").alias("m"), F.col("dst").alias("b"))
    two_hop = (
        e1.join(e2, "m")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    cand = two_hop.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b")), ["a", "b"], "left_anti"
    )
    da = deg.select(F.col("src").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("src").alias("b"), F.col("d").alias("deg_b"))
    return (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            "n_common",
            "deg_a",
            "deg_b",
            F.expr("(n_common * 1000000) div (deg_a + deg_b - n_common)")
            .cast("bigint")
            .alias("jaccard_micro"),
        )
        .orderBy(F.col("jaccard_micro").desc(), "node_a", "node_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# HITS (hubs & authorities) on the DIRECTED customer->supplier graph
# ---------------------------------------------------------------------------

HITS_SCALE = 1_000_000  # hub/auth kept in 1e6 fixed-point units
HITS_ROUNDS = 2


def _hits_oracle() -> str:
    scale = HITS_SCALE
    ctes = [
        f"""pairs AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    h0 AS MATERIALIZED (
        SELECT DISTINCT c, {scale} AS hub FROM pairs
    )"""
    ]
    prev_h = "h0"
    for r in range(1, HITS_ROUNDS + 1):
        ctes.append(
            f"""araw{r} AS MATERIALIZED (
        SELECT p.s, SUM(h.hub) AS raw
        FROM pairs p JOIN {prev_h} h ON h.c = p.c GROUP BY p.s
    ),
    amax{r} AS (SELECT MAX(raw) AS m FROM araw{r}),
    a{r} AS MATERIALIZED (
        SELECT s, (raw * {scale}) // (SELECT m FROM amax{r}) AS auth FROM araw{r}
    ),
    hraw{r} AS MATERIALIZED (
        SELECT p.c, SUM(a.auth) AS raw
        FROM pairs p JOIN a{r} a ON a.s = p.s GROUP BY p.c
    ),
    hmax{r} AS (SELECT MAX(raw) AS m FROM hraw{r}),
    h{r} AS MATERIALIZED (
        SELECT c, (raw * {scale}) // (SELECT m FROM hmax{r}) AS hub FROM hraw{r}
    )"""
        )
        prev_h = f"h{r}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(s AS BIGINT) AS supplier, CAST(auth AS BIGINT) AS auth_micro
    FROM a{HITS_ROUNDS}
    ORDER BY auth_micro DESC, supplier
    LIMIT 25
    """
    )


@register("graph_hits_authorities", _hits_oracle())
def graph_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (hubs & authorities) on the DIRECTED customer->supplier
    purchase graph: a supplier is authoritative when important hub
    customers buy from it; a customer is a hub when it buys from
    authoritative suppliers — the mutually-recursive eigenvector pair
    PageRank's single score can't express (Kleinberg's algorithm).
    Two full rounds of the alternating power iteration in BIGINT
    fixed point, each half-step renormalized by the MAX raw score
    ((raw * 1e6) div max — an exact integer division, where the
    textbook L2 norm would be an irrational float no oracle could
    replay). The loop is the pagerank shape: driver-side
    rounds, per-round one colocated edge join + partial-aggregated
    groupBy, node-sized frames shuffling against the cached directed
    edge layout, the 1-row max broadcast back. Returns the top-25
    authorities."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = cache_once(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .repartition("c")
    )
    hub = pairs.select("c").distinct().select("c", F.lit(HITS_SCALE).alias("hub"))
    auth = None
    # r15 (guide §1.2): cache each half-step's raw aggregate — it is
    # consumed TWICE (its own max + the normalized projection), and the
    # next half-step builds on the result, so the uncached lazy form
    # replayed the whole prior chain multiplicatively per round
    # (measured 3.5s warm; ~0.9s cached). Node-sized relations, 2 per
    # round, LRU-evicted under pressure.
    for _ in range(HITS_ROUNDS):
        araw = cache_once(pairs.join(hub, "c").groupBy("s").agg(F.sum("hub").alias("raw")))
        amax = araw.agg(F.max("raw").alias("m"))
        auth = araw.crossJoin(F.broadcast(amax)).select(
            "s", F.expr(f"(raw * {HITS_SCALE}) div m").alias("auth")
        )
        hraw = cache_once(pairs.join(auth, "s").groupBy("c").agg(F.sum("auth").alias("raw")))
        hmax = hraw.agg(F.max("raw").alias("m"))
        hub = hraw.crossJoin(F.broadcast(hmax)).select(
            "c", F.expr(f"(raw * {HITS_SCALE}) div m").alias("hub")
        )
    return (
        auth.select(F.col("s").cast("bigint").alias("supplier"), F.col("auth").cast("bigint").alias("auth_micro"))
        .orderBy(F.col("auth_micro").desc(), "supplier")
        .limit(25)
    )


@register(
    "graph_degree_distribution",
    _TRADE_EDGES_CTES
    + """,
    deg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src
    ),
    pow2 AS (SELECT UNNEST(RANGE(0, 32)) AS p),
    binned AS (
        SELECT src,
               (SELECT COUNT(*) FROM pow2 WHERE (1::BIGINT << pow2.p) <= deg.d) - 1 AS bucket
        FROM deg
    )
    SELECT CAST(bucket AS BIGINT) AS log2_degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST((1::BIGINT << bucket) AS BIGINT) AS degree_lo,
           CAST((1::BIGINT << (bucket + 1)) - 1 AS BIGINT) AS degree_hi
    FROM binned
    GROUP BY bucket
    ORDER BY log2_degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the trade graph, log2-binned — the graph
    diagnostic read before every algorithm choice here: a heavy tail
    is what forces the link-prediction degree cap, the containment df
    cap, and salting. The log2 bucket is computed EXACTLY by counting
    powers of two <= degree against a broadcast 32-row constant frame
    (float log2 flips on exact powers at the boundary; the popcount of
    comparisons cannot). Node degrees come from trade_graph's d; one
    groupBy bins them into the histogram."""
    deg = trade_graph(spark, sf_dir).select("src", "d").distinct()
    pow2 = spark.range(0, 32).select(F.expr("shiftleft(1L, CAST(id AS INT))").alias("pw"))
    binned = (
        deg.crossJoin(F.broadcast(pow2))
        .filter(F.col("pw") <= F.col("d"))
        .groupBy("src")
        .agg((F.count(F.lit(1)) - 1).alias("bucket"))
    )
    return (
        binned.groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .select(
            F.col("bucket").cast("bigint").alias("log2_degree"),
            "n_nodes",
            F.expr("shiftleft(1L, CAST(bucket AS INT))").cast("bigint").alias("degree_lo"),
            (F.expr("shiftleft(1L, CAST(bucket AS INT) + 1)") - 1).cast("bigint").alias("degree_hi"),
        )
        .orderBy("log2_degree")
    )


_TRIANGLE_ORACLE = f"""{_part_pairs_cte(_MIN_SUPPORT)},
    deg AS (
        SELECT n, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT u AS n FROM pairs UNION ALL SELECT v FROM pairs)
        GROUP BY n
    ),
    oriented AS (
        SELECT CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.u ELSE p.v END AS src,
               CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.v ELSE p.u END AS dst
        FROM pairs p
        JOIN deg du ON du.n = p.u
        JOIN deg dv ON dv.n = p.v
    ),
    tri AS (
        SELECT COUNT(*) AS n
        FROM oriented e1
        JOIN oriented e2 ON e2.src = e1.dst
        JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    wedges AS (SELECT SUM(d * (d - 1) / 2) AS n FROM deg)
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
           CAST(wedges.n AS BIGINT) AS n_wedges,
           CAST(tri.n AS BIGINT) AS n_triangles,
           CAST(3 * tri.n * 1000000 // wedges.n AS BIGINT) AS clustering_coeff_micro
    FROM tri, wedges
"""


@register("graph_clustering_coefficient", _TRIANGLE_ORACLE)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the
    MIN-SUPPORT-filtered part co-purchase graph — exact wedge +
    triangle census. Two deliberate scale controls on top of
    graph_triangle_count's id-oriented count:

    1. **Min-support edges**: part_graph(_MIN_SUPPORT), the
       market-basket sparsifier; on the raw projection the metric
       saturates at 1.0 and the wedge join goes superlinear.
    2. **Degree-ordered orientation**: every edge points from its
       (degree, id)-smaller endpoint, so each triangle counts once and
       the e1⋈e2 wedge volume is bounded by O(m^1.5) instead of
       sum-of-D^2 — the hub-safe formulation.

    Wedge count is the exact degree census (sum d·(d-1)/2); the
    coefficient 3·triangles/wedges is integer micro-units, bit-exact
    across engines. (The customer-supplier trade graph itself is
    bipartite and triangle-free; projections are where community
    structure lives.)"""
    pairs = part_graph(spark, sf_dir, _MIN_SUPPORT)
    deg = (
        pairs.select(F.col("u").alias("n"))
        .unionAll(pairs.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    lower = (F.col("du.d") < F.col("dv.d")) | (
        (F.col("du.d") == F.col("dv.d")) & (F.col("u") < F.col("v"))
    )
    oriented = cache_once(
        pairs.join(du, F.col("du.n") == F.col("u"))
        .join(dv, F.col("dv.n") == F.col("v"))
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src")) & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    stats = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    dstats = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) / 2")).cast("bigint").alias("n_wedges"),
    )
    return (
        tri.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dstats))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr("CAST(3 * n_triangles * 1000000 DIV n_wedges AS BIGINT)").alias(
                "clustering_coeff_micro"
            ),
        )
    )


# --- Multi-source BFS hop distance (frontier-free min-propagation) ----------

_BFS_ROUNDS = 3


def _bfs_round_sql(prev: str, out: str) -> str:
    """One unrolled min-hop round: dist' = MIN(dist, 1 + min over
    in-neighbors). UNION ALL then MIN-group — no frontier set needed,
    monotone convergence."""
    return f"""
    {out} AS MATERIALIZED (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT e.dst AS node, d.dist + 1 AS dist
            FROM edges e JOIN {prev} d ON d.node = e.src
        ) GROUP BY node
    )"""


_BFS_ORACLE = f"""{_TRADE_EDGES_CTES},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    d0 AS (
        SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes
        WHERE node % 2 = 1 AND node // 2 <= 3
    ),
    {",".join(_bfs_round_sql(f"d{i}", f"d{i + 1}") for i in range(_BFS_ROUNDS))}
    SELECT CAST(hop AS BIGINT) AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS min_node, CAST(MAX(node) AS BIGINT) AS max_node
    FROM (
        SELECT n.node, COALESCE(d.dist, -1) AS hop
        FROM nodes n LEFT JOIN d{_BFS_ROUNDS} d ON d.node = n.node
    )
    GROUP BY hop ORDER BY hop
"""


@register("graph_bfs_hops", _BFS_ORACLE)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance over the trade graph: seeds are
    suppliers 1-3 (packed ids 2k+1), and {n} rounds of min-hop
    propagation label every node with its distance (hop <= {n}) or -1
    (beyond the horizon). Each round is UNION ALL(current labels,
    neighbor labels + 1) -> MIN per node — the frontier-free monotone
    form: no visited-set state, re-relaxations are idempotent, so the
    rounds are plain shuffles on the 8-byte node key and the oracle
    unrolls them as chained MATERIALIZED CTEs. Scale: identical
    posture to pagerank (the cached trade_graph edges reused every
    round, node-keyed hash aggs); at 100 TB the same
    plan runs with AQE-sized exchanges — BFS via joins is exactly how
    GraphX/Pregel lowers it. Output is the hop histogram with
    min/max node ids as a content fingerprint.""".format(n=_BFS_ROUNDS)
    edges = trade_graph(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    dist = nodes.where((F.col("node") % 2 == 1) & (F.expr("node div 2") <= 3)).select(
        "node", F.lit(0).cast("bigint").alias("dist")
    )
    for _ in range(_BFS_ROUNDS):
        relaxed = (
            edges.join(dist, edges.src == dist.node)
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    labeled = nodes.join(dist, "node", "left").select(
        "node", F.coalesce(F.col("dist"), F.lit(-1)).alias("hop")
    )
    return (
        labeled.groupBy("hop")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .select(F.col("hop").cast("bigint").alias("hop"), "n_nodes", "min_node", "max_node")
        .orderBy("hop")
    )


# --- Boruvka minimum spanning forest (2 rounds, star contraction) ------------

_MST_ROUNDS = 2
_MST_JUMPS = 4  # pointer-jump passes per round (contracts depth <= 2^4)
_MST_WMOD = 1048576  # weights live in [0, 2^20)


def _mst_round_sql(r: int) -> str:
    """One Boruvka round over labels l{r}: relabel edges, per-component
    arg-min outgoing edge, 2-cycle break, 4 pointer jumps."""
    j_chain = ",\n    ".join(
        f"j{r}_{k} AS MATERIALIZED (SELECT a.c, b.parent FROM "
        f"{'parx' + str(r) if k == 1 else f'j{r}_{k - 1}'} a "
        f"JOIN {'parx' + str(r) if k == 1 else f'j{r}_{k - 1}'} b ON b.c = a.parent)"
        for k in range(1, _MST_JUMPS + 1)
    )
    return f"""
    er{r} AS (
        SELECT la.label AS ca, lb.label AS cb, e.key, e.wsmall, e.lo, e.hi
        FROM ek e
        JOIN l{r} la ON la.node = e.src
        JOIN l{r} lb ON lb.node = e.dst
        WHERE la.label <> lb.label
    ),
    ch{r} AS MATERIALIZED (
        SELECT ca AS c, ARG_MIN(cb, key) AS p, ARG_MIN(wsmall, key) AS w,
               ARG_MIN(lo, key) AS elo, ARG_MIN(hi, key) AS ehi
        FROM er{r} GROUP BY ca
    ),
    par{r} AS (
        SELECT a.c, CASE WHEN b.p = a.c THEN LEAST(a.c, a.p) ELSE a.p END AS parent
        FROM ch{r} a JOIN ch{r} b ON b.c = a.p
    ),
    parx{r} AS MATERIALIZED (
        SELECT l.label AS c, COALESCE(p.parent, l.label) AS parent
        FROM (SELECT DISTINCT label FROM l{r}) l
        LEFT JOIN par{r} p ON p.c = l.label
    ),
    {j_chain},
    l{r + 1} AS MATERIALIZED (
        SELECT l.node, j.parent AS label
        FROM l{r} l JOIN j{r}_{_MST_JUMPS} j ON j.c = l.label
    ),
    added{r} AS (
        SELECT COUNT(*) AS n_edges,
               COALESCE(SUM(w), 0) AS weight
        FROM (SELECT DISTINCT elo, ehi, w FROM ch{r})
    ),
    stat{r} AS (
        SELECT CAST({r} AS BIGINT) AS round,
               CAST(a.n_edges AS BIGINT) AS n_edges_added,
               CAST(a.weight AS BIGINT) AS weight_added,
               CAST((SELECT COUNT(DISTINCT label) FROM l{r + 1}) AS BIGINT)
                 AS n_components_after,
               CAST((SELECT COUNT(*) FROM j{r}_{_MST_JUMPS} x
                     JOIN j{r}_{_MST_JUMPS} y ON y.c = x.parent
                     WHERE y.parent <> x.parent) AS BIGINT) AS not_converged
        FROM added{r} a
    )"""


_MST_ORACLE = f"""{_TRADE_EDGES_CTES},
    ek AS MATERIALIZED (
        SELECT src, dst, lo, hi, w % {_MST_WMOD} AS wsmall,
               (w % {_MST_WMOD}) * 1099511627776 + lo * 1048576 + hi AS key
        FROM (
            SELECT src, dst,
                   LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi,
                   (LEAST(src, dst) * 1000003 + GREATEST(src, dst))
                     % 2147483647 AS w
            FROM edges
        )
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM ek),
    {",".join(_mst_round_sql(r) for r in range(_MST_ROUNDS))}
    SELECT * FROM ({" UNION ALL ".join(f"SELECT * FROM stat{r}" for r in range(_MST_ROUNDS))})
    ORDER BY round
"""


@register("graph_boruvka_msf", _MST_ORACLE)
def graph_boruvka_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boruvka minimum spanning forest over the trade graph — the
    classic O(log n)-round distributed MST: every component picks its
    minimum outgoing edge (deterministic total order: a 2^20 hash
    weight with the (lo, hi) endpoint pair packed below it in one
    BIGINT sort key), mutual choices break to the smaller component id
    (the only cycle Boruvka can create is a 2-cycle), and components
    contract by {j} pointer-jump passes (depth 2^{j} — convergence is
    EMITTED AS DATA: not_converged counts non-fixed-point labels and
    is pinned 0 in tests at every SF, so an insufficient jump budget
    is visible, not silent). Two rounds; per round the added-edge
    count, added weight, surviving component count, and the
    convergence census. Scale shape: everything is node-scale
    equi-joins against the cached packed-int edge list — per-component
    argmin is one hash-agg, contraction is label-frame joins; no
    all-pairs anywhere. Oracle replays both rounds as unrolled
    MATERIALIZED CTEs.""".format(j=_MST_JUMPS)
    edges = trade_graph(spark, sf_dir)
    lo = F.least("src", "dst")
    hi = F.greatest("src", "dst")
    w = (lo * 1000003 + hi) % 2147483647
    # Pinned eagerly (localCheckpoint, NOT cache_once), as iterate pins
    # every round and pointer jump: each jump self-joins the previous
    # frame, so a lazy chain doubles its plan per jump (2^(rounds*jumps)
    # analysis blow-up — the first attempt ran minutes at sf0.001).
    ek = edges.select(
        "src",
        "dst",
        lo.alias("lo"),
        hi.alias("hi"),
        (w % _MST_WMOD).alias("wsmall"),
        ((w % _MST_WMOD) * 1099511627776 + lo * 1048576 + hi).alias("key"),
    ).localCheckpoint()
    by_round = []  # (round, chosen edges, contracted parents) per round

    def jump_step(jump: DataFrame, r: int) -> DataFrame:
        return jump.join(
            jump.select(F.col("c").alias("p_c"), F.col("parent").alias("p_parent")),
            F.col("p_c") == F.col("parent"),
        ).select("c", F.col("p_parent").alias("parent"))

    def round_step(labels: DataFrame, r: int) -> DataFrame:
        la = labels.select(F.col("node").alias("src"), F.col("label").alias("ca"))
        lb = labels.select(F.col("node").alias("dst"), F.col("label").alias("cb"))
        er = (
            ek.join(la, "src").join(lb, "dst").where(F.col("ca") != F.col("cb"))
        )
        ch = er.groupBy(F.col("ca").alias("c")).agg(
            F.min_by("cb", "key").alias("p"),
            F.min_by("wsmall", "key").alias("w"),
            F.min_by("lo", "key").alias("elo"),
            F.min_by("hi", "key").alias("ehi"),
        ).localCheckpoint()
        chb = ch.select(F.col("c").alias("b_c"), F.col("p").alias("b_p"))
        par = ch.join(chb, F.col("b_c") == F.col("p")).select(
            "c",
            F.when(F.col("b_p") == F.col("c"), F.least("c", "p"))
            .otherwise(F.col("p"))
            .alias("parent"),
        )
        parx = (
            labels.select("label").distinct()
            .join(par, F.col("label") == F.col("c"), "left")
            .select(
                F.col("label").alias("c"),
                F.coalesce("parent", F.col("label")).alias("parent"),
            )
            .localCheckpoint()
        )
        jump = iterate(parx, jump_step, _MST_JUMPS)[-1]
        by_round.append((r - 1, ch, jump))
        return (
            labels.join(jump.select(F.col("c").alias("label"), "parent"), "label")
            .select("node", F.col("parent").alias("label"))
        )

    labels0 = ek.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    states = iterate(labels0, round_step, _MST_ROUNDS)
    stats_rows = []
    for (r, ch, jump), labels in zip(by_round, states[1:]):
        added = ch.select("elo", "ehi", "w").distinct().agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.coalesce(F.sum("w"), F.lit(0)).alias("weight"),
        )
        ncomp = labels.agg(F.countDistinct("label").alias("nc"))
        jj = jump.select(F.col("c").alias("x_c"), F.col("parent").alias("x_parent"))
        nonfix = (
            jj.join(
                jump.select(F.col("c").alias("y_c"), F.col("parent").alias("y_parent")),
                F.col("y_c") == F.col("x_parent"),
            )
            .where(F.col("y_parent") != F.col("x_parent"))
            .agg(F.count(F.lit(1)).alias("bad"))
        )
        stats_rows.append(
            added.crossJoin(F.broadcast(ncomp))
            .crossJoin(F.broadcast(nonfix))
            .select(
                F.lit(r).cast("bigint").alias("round"),
                F.col("n_edges").cast("bigint").alias("n_edges_added"),
                F.col("weight").cast("bigint").alias("weight_added"),
                F.col("nc").cast("bigint").alias("n_components_after"),
                F.col("bad").cast("bigint").alias("not_converged"),
            )
        )
    res = stats_rows[0]
    for s_ in stats_rows[1:]:
        res = res.unionByName(s_)
    return res.orderBy("round")


# --- Deterministic random walks (hash-keyed next-hop sampling) ----------------

_WALK_STEPS = 3


def _walk_step_sql(r: int) -> str:
    """Next hop from w{r}: per walk, the out-edge minimizing the
    step-keyed portable hash — a deterministic stand-in for uniform
    next-hop sampling that both engines replay."""
    return f"""
    w{r + 1} AS (
        SELECT w.start_node,
               ARG_MIN(e.dst, ('0x' || SUBSTR(MD5(
                   CAST(e.src AS VARCHAR) || '_' || CAST(e.dst AS VARCHAR)
                   || '_' || '{r}'), 1, 8))::BIGINT) AS node
        FROM w{r} w JOIN edges e ON e.src = w.node
        GROUP BY w.start_node
    )"""


_WALK_ORACLE = f"""{_TRADE_EDGES_CTES},
    w0 AS (
        SELECT DISTINCT src AS start_node, src AS node FROM edges
        WHERE src % 2 = 1 AND src // 2 <= 10
    ),
    {",".join(_walk_step_sql(r) for r in range(_WALK_STEPS))}
    SELECT w0.start_node,
           CAST(w1.node AS BIGINT) AS hop1,
           CAST(w2.node AS BIGINT) AS hop2,
           CAST(w3.node AS BIGINT) AS hop3,
           CAST(1 + (w1.node <> w0.start_node)::INT
                  + (w2.node <> w0.start_node AND w2.node <> w1.node)::INT
                  + (w3.node <> w0.start_node AND w3.node <> w1.node
                     AND w3.node <> w2.node)::INT AS BIGINT) AS n_distinct_visited
    FROM w0 JOIN w1 USING (start_node) JOIN w2 USING (start_node)
    JOIN w3 USING (start_node)
    ORDER BY start_node
"""


@register("graph_deterministic_walks", _WALK_ORACLE)
def graph_deterministic_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks over the trade graph — the sampling
    primitive under node2vec/DeepWalk-style graph embeddings and
    negative-sampling pipelines, made REPLAYABLE: the next hop from u
    at step t is the out-neighbor minimizing the portable md5 hash of
    (u, v, t) — distributionally arbitrary like a seeded RNG, but a
    pure function of the edge and step, so the walk is an exact
    cross-engine fixed point (seeded RNG walks cannot carry an oracle;
    this is the t24 Efraimidis-Spirakis trick applied to walks).
    Three steps from each low-id supplier; emits the path and its
    distinct-visit count (revisits happen — the walk is not
    self-avoiding, visible as data). Scale: each step is ONE
    equi-join of the walk frontier against the cached trade_graph +
    a per-walk argmin hash-agg — walk count scales embarrassingly,
    step count linearly; the 100 TB corpus walk is this exact plan
    with a frontier of billions."""
    edges = trade_graph(spark, sf_dir)
    starts = (
        edges.select("src").distinct()
        .where((F.col("src") % 2 == 1) & (F.expr("src div 2") <= 10))
        .select(F.col("src").alias("start_node"), F.col("src").alias("node"))
    )
    hops = [starts]
    for r in range(_WALK_STEPS):
        cur = hops[-1].select("start_node", "node")
        step_hash = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("src").cast("string"),
                        F.lit("_"),
                        F.col("dst").cast("string"),
                        F.lit("_"),
                        F.lit(str(r)),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        nxt = (
            cur.join(edges, cur.node == edges.src)
            .groupBy("start_node")
            .agg(F.min_by("dst", step_hash).alias("node"))
        )
        hops.append(nxt)
    w0, w1, w2, w3 = (
        hops[0].select("start_node"),
        hops[1].select("start_node", F.col("node").alias("hop1")),
        hops[2].select("start_node", F.col("node").alias("hop2")),
        hops[3].select("start_node", F.col("node").alias("hop3")),
    )
    joined = w0.join(w1, "start_node").join(w2, "start_node").join(w3, "start_node")
    n_dist = (
        F.lit(1)
        + (F.col("hop1") != F.col("start_node")).cast("int")
        + ((F.col("hop2") != F.col("start_node")) & (F.col("hop2") != F.col("hop1"))).cast("int")
        + (
            (F.col("hop3") != F.col("start_node"))
            & (F.col("hop3") != F.col("hop1"))
            & (F.col("hop3") != F.col("hop2"))
        ).cast("int")
    )
    return joined.select(
        "start_node",
        F.col("hop1").cast("bigint").alias("hop1"),
        F.col("hop2").cast("bigint").alias("hop2"),
        F.col("hop3").cast("bigint").alias("hop3"),
        n_dist.cast("bigint").alias("n_distinct_visited"),
    ).orderBy("start_node")


# --- k-truss pruning census ---------------------------------------------------

_KTRUSS_K = 4          # edges must sit in >= k-2 = 2 triangles to survive
_KTRUSS_ROUNDS = 2


def _ktruss_support_sql(edges: str, sup: str) -> str:
    """Per-edge triangle support over a (u < v) edge CTE: each triangle
    (a<b<c) is enumerated once by the two-wedge join into tri_{sup},
    then its three edge roles are unioned and counted."""
    return f"""
    tri_{sup} AS MATERIALIZED (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM {edges} e1
        JOIN {edges} e2 ON e2.u = e1.v
        JOIN {edges} e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    {sup} AS MATERIALIZED (
        SELECT u, v, CAST(COUNT(*) AS BIGINT) AS support
        FROM (
            SELECT a AS u, b AS v FROM tri_{sup}
            UNION ALL SELECT b, c FROM tri_{sup}
            UNION ALL SELECT a, c FROM tri_{sup}
        )
        GROUP BY u, v
    )"""


_KTRUSS_ORACLE = f"""{_part_pairs_cte(_MIN_SUPPORT)},
    {_ktruss_support_sql('pairs', 'sup1')},
    e1 AS MATERIALIZED (
        SELECT p.u, p.v FROM pairs p JOIN sup1 s ON s.u = p.u AND s.v = p.v
        WHERE s.support >= {_KTRUSS_K - 2}
    ),
    {_ktruss_support_sql('e1', 'sup2')},
    e2 AS MATERIALIZED (
        SELECT p.u, p.v FROM e1 p JOIN sup2 s ON s.u = p.u AND s.v = p.v
        WHERE s.support >= {_KTRUSS_K - 2}
    )
    SELECT round, n_edges_in, n_edges_out,
           CAST(n_edges_in - n_edges_out AS BIGINT) AS n_removed
    FROM (
        SELECT 1 AS round,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges_in,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM e1) AS n_edges_out
        UNION ALL
        SELECT 2,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM e1),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM e2)
    )
    ORDER BY round
"""


@register("graph_ktruss", _KTRUSS_ORACLE)
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss pruning census (k = 4) over the min-support part
    co-purchase graph: per round, every edge's triangle support is
    counted (each (a<b<c) triangle enumerated ONCE by a two-wedge
    join over the u<v edge list, then its three edge roles unioned)
    and edges in fewer than k-2 triangles are removed. Two fixed
    rounds; the census row per round (edges in / out / removed) is the
    hash-compared convergence evidence — same posture as
    graph_boruvka_msf.

    Scale shape: support is the standard triangle-enumeration join
    bounded by the min-support sparsifier (part_graph); each round is
    edge-keyed shuffles only, and the rounds run through ``iterate``.
    part_graph's output is checkpointed once before the loop too, so
    the rounds self-join a checkpoint leaf rather than the cached
    relation's plan (measured warm at sf0.1, local[4], 7 alternating
    pairs in one session: 2.36 -> 1.88 s median). Each edge set is
    counted once: a round's n_edges_in is the previous round's
    n_edges_out."""

    def step(edges: DataFrame, r: int) -> DataFrame:
        e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
        tris = (
            e1.join(e2, F.col("e2.u") == F.col("e1.v"))
            .join(
                e3,
                (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
            )
            .select(
                F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c")
            )
        )
        roles = (
            tris.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionAll(tris.select(F.col("b").alias("u"), F.col("c").alias("v")))
            .unionAll(tris.select(F.col("a").alias("u"), F.col("c").alias("v")))
        )
        sup = roles.groupBy("u", "v").agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        return (
            edges.join(sup, ["u", "v"])
            .filter(F.col("support") >= _KTRUSS_K - 2)
            .select("u", "v")
        )

    states = iterate(
        part_graph(spark, sf_dir, _MIN_SUPPORT).localCheckpoint(), step, _KTRUSS_ROUNDS
    )
    n = [s.count() for s in states]
    census = [(r, n[r - 1], n[r], n[r - 1] - n[r]) for r in range(1, len(n))]
    return spark.createDataFrame(
        census, "round int, n_edges_in bigint, n_edges_out bigint, n_removed bigint"
    ).orderBy("round")


# --- G-MIS: deterministic Luby maximal independent set -----------------------

_MIS_ROUNDS = 4
# injective deterministic priority: portable 32-bit hash of the node id
# shifted past the id domain, plus the id as tiebreak (node ids at the
# tested SFs stay far below 2^24; 2^32 * 2^24 = 2^56 fits BIGINT)
_MIS_SHIFT = 16_777_216


def _mis_oracle_sql() -> str:
    head = _TRADE_EDGES_CTES + """,
    u0 AS MATERIALIZED (
        SELECT src AS node,
               ('0x' || SUBSTR(MD5('mis-' || CAST(src AS VARCHAR)), 1, 8))::BIGINT
                   * 16777216 + src AS p
        FROM (SELECT DISTINCT src FROM edges)
    )"""
    steps = []
    for k in range(_MIS_ROUNDS):
        steps.append(f"""
    mx{k} AS MATERIALIZED (
        SELECT e.src AS node, MAX(ud.p) AS mp
        FROM edges e
        JOIN u{k} us ON us.node = e.src
        JOIN u{k} ud ON ud.node = e.dst
        GROUP BY e.src
    ),
    w{k} AS MATERIALIZED (
        SELECT u.node, u.p
        FROM u{k} u LEFT JOIN mx{k} m ON m.node = u.node
        WHERE u.p > COALESCE(m.mp, -1)
    ),
    rm{k} AS MATERIALIZED (
        SELECT node FROM w{k}
        UNION
        SELECT e.dst AS node FROM edges e JOIN w{k} w ON w.node = e.src
    ),
    u{k + 1} AS MATERIALIZED (
        SELECT u.node, u.p FROM u{k} u
        WHERE NOT EXISTS (SELECT 1 FROM rm{k} r WHERE r.node = u.node)
    )""")
    mis_union = " UNION ALL ".join(f"SELECT node FROM w{k}" for k in range(_MIS_ROUNDS))
    per_round = " UNION ALL ".join(
        f"""
    SELECT CAST({k + 1} AS BIGINT) AS round,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM w{k}) AS n_selected,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM u{k + 1}) AS n_undecided_after"""
        for k in range(_MIS_ROUNDS)
    )
    return (
        head
        + ","
        + ",".join(steps)
        + f""",
    mis AS MATERIALIZED ({mis_union}),
    indep AS (
        SELECT NOT EXISTS (
            SELECT 1 FROM edges e
            JOIN mis a ON a.node = e.src
            JOIN mis b ON b.node = e.dst
        ) AS is_independent,
        CAST((SELECT COUNT(*) FROM mis) AS BIGINT) AS mis_size
    )
    SELECT r.round, r.n_selected, r.n_undecided_after,
           i.mis_size, i.is_independent
    FROM ({per_round}) r CROSS JOIN indep i
    ORDER BY r.round
    """
    )


@register("graph_mis_luby", _mis_oracle_sql())
def graph_mis_luby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-MIS: maximal independent set by DETERMINISTIC Luby rounds over
    the trade graph — THE classic distributed symmetry-breaking
    primitive (scheduling non-conflicting work, anchor selection for
    clustering, graph-coloring bootstrap). Luby's coin flips are
    replaced by an injective portable priority (md5-prefix hash shifted
    past the id domain + node id), so the usual with-high-probability
    argument becomes a reproducible fixed schedule both engines replay
    bit-identically: per round a node joins the MIS iff its priority
    beats every UNDECIDED neighbor's, then winners + their
    neighborhoods leave the graph. 4 synchronous rounds decide the
    overwhelming share of a bipartite trade graph (isolated-by-removal
    nodes win vacuously in the next round); the census reports
    per-round selections plus the final independence proof (no edge
    with both endpoints selected — computed, not assumed).

    Plan per round: two node-keyed equi-joins (undecided filter), one
    groupBy(src) MAX and a left-anti removal, the rounds run through
    ``iterate``. Node-sized shuffles only; the edge list is
    partitioned once and reused — the Pregel posture. At 100 TB rounds
    stay O(E/p) with no skew beyond degree (cappable exactly like the
    link-prediction mid-degree guard)."""
    edges = trade_graph(spark, sf_dir)
    und0 = cache_once(
        edges.select("src")
        .distinct()
        .select(
            F.col("src").alias("node"),
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("mis-"), F.col("src").cast("string"))), 1, 8),
                    16,
                    10,
                ).cast("long")
                * _MIS_SHIFT
                + F.col("src")
            ).alias("p"),
        )
    )
    mis_parts = []

    def step(und: DataFrame, r: int) -> DataFrame:
        mx = (
            edges.join(und.select(F.col("node").alias("src")), "src")
            .join(und.select(F.col("node").alias("dst"), F.col("p").alias("pd")), "dst")
            .groupBy("src")
            .agg(F.max("pd").alias("mp"))
            .select(F.col("src").alias("node"), "mp")
        )
        winners = (
            und.join(mx, "node", "left")
            .where(F.col("p") > F.coalesce(F.col("mp"), F.lit(-1)))
            .select("node")
            .localCheckpoint()
        )
        mis_parts.append(winners)
        removed = winners.unionByName(
            edges.join(winners.select(F.col("node").alias("src")), "src").select(
                F.col("dst").alias("node")
            )
        ).distinct()
        return und.join(removed, "node", "left_anti")

    undecided = iterate(und0, step, _MIS_ROUNDS)[1:]
    mis = mis_parts[0]
    for w in mis_parts[1:]:
        mis = mis.unionByName(w)
    mis = mis.localCheckpoint()
    indep = (
        edges.join(mis.select(F.col("node").alias("src")), "src")
        .join(mis.select(F.col("node").alias("dst")), "dst")
        .agg(
            (F.count(F.lit(1)) == 0).alias("is_independent"),
        )
        .crossJoin(F.broadcast(mis.agg(F.count(F.lit(1)).cast("bigint").alias("mis_size"))))
    )
    spark_rounds = None
    for k, (winners, und_after) in enumerate(zip(mis_parts, undecided), 1):
        row = (
            winners.agg(F.count(F.lit(1)).cast("bigint").alias("n_selected"))
            .crossJoin(
                F.broadcast(
                    und_after.agg(
                        F.count(F.lit(1)).cast("bigint").alias("n_undecided_after")
                    )
                )
            )
            .select(
                F.lit(k).cast("bigint").alias("round"),
                "n_selected",
                "n_undecided_after",
            )
        )
        spark_rounds = row if spark_rounds is None else spark_rounds.unionByName(row)
    return (
        spark_rounds.crossJoin(F.broadcast(indep))
        .select("round", "n_selected", "n_undecided_after", "mis_size", "is_independent")
        .orderBy("round")
    )


# --- Adamic-Adar link prediction (common-neighbor scoring) -------------------

_AA_ORACLE = f"""{_part_pairs_cte(_MIN_SUPPORT)},
    edges AS MATERIALIZED (
        SELECT u AS n, v AS nbr FROM pairs
        UNION ALL
        SELECT v AS n, u AS nbr FROM pairs
    ),
    deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY n),
    cand AS (
        SELECT e1.nbr AS u, e2.nbr AS v,
               CAST(COUNT(*) AS BIGINT) AS common_neighbors,
               CAST(SUM(CAST(FLOOR(1000000.0 / LN(CAST(dw.d AS DOUBLE))) AS BIGINT))
                    AS BIGINT) AS aa_micro
        FROM edges e1
        JOIN edges e2 ON e2.n = e1.n AND e1.nbr < e2.nbr
        JOIN deg dw ON dw.n = e1.n
        GROUP BY 1, 2
    ),
    nonadj AS (
        SELECT c.* FROM cand c
        ANTI JOIN pairs p ON p.u = c.u AND p.v = c.v
    )
    SELECT n.u, n.v, n.common_neighbors, n.aa_micro,
           CAST(n.common_neighbors * 1000000
                // (du.d + dv.d - n.common_neighbors) AS BIGINT) AS jaccard_micro
    FROM nonadj n
    JOIN deg du ON du.n = n.u
    JOIN deg dv ON dv.n = n.v
    ORDER BY n.aa_micro DESC, n.u, n.v
    LIMIT 25
"""


@register("graph_adamic_adar", _AA_ORACLE)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the min-support part co-purchase graph:
    for every NON-adjacent pair with at least one common neighbor,
    the Adamic-Adar score (sum over common neighbors w of 1/ln(deg w))
    plus the common-neighbor count and Jaccard coefficient — the three
    classic neighborhood predictors, top-25 by AA. In an LLM-data
    pipeline this is the "suggest near-duplicate clusters to merge /
    related-document candidates" primitive over any co-occurrence
    projection.

    Determinism: each AA term is floored to integer micro-units BEFORE
    the sum (FLOOR(1e6/ln d) — identical IEEE double division in both
    engines), so the aggregate is an order-free BIGINT sum, never a
    float accumulation; Jaccard is integer micro-division. A common
    neighbor is adjacent to both endpoints, so deg(w) >= 2 and
    ln(deg w) > 0 — no division hazard.

    Scale: candidate volume is sum-of-deg^2 over shared neighbors —
    the same wedge bound as the triangle census, tamed by the
    min-support sparsifier (part_graph). At 100 TB the additional
    controls are a per-node neighbor cap before the wedge join and/or
    degree-thresholding hubs, both one filter on deg —
    the plan shape (broadcast deg, one self-join, one hash agg,
    anti-join to drop known edges) is unchanged. Reference has no
    graph surface (north-star territory; cf. dedup clustering,
    dedup.py:385)."""
    pairs = part_graph(spark, sf_dir, _MIN_SUPPORT)
    edges = pairs.select(F.col("u").alias("n"), F.col("v").alias("nbr")).unionAll(
        pairs.select(F.col("v").alias("n"), F.col("u").alias("nbr"))
    )
    deg = edges.groupBy("n").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    cand = (
        e1.join(e2, (F.col("e2.n") == F.col("e1.n")) & (F.col("e1.nbr") < F.col("e2.nbr")))
        .join(F.broadcast(deg.alias("dw")), F.col("dw.n") == F.col("e1.n"))
        .groupBy(F.col("e1.nbr").alias("u"), F.col("e2.nbr").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            F.sum(F.floor(F.lit(1000000.0) / F.log(F.col("dw.d").cast("double"))))
            .cast("bigint")
            .alias("aa_micro"),
        )
    )
    nonadj = cand.join(pairs, ["u", "v"], "left_anti")
    du, dv = deg.alias("du"), deg.alias("dv")
    return (
        nonadj.join(F.broadcast(du), F.col("du.n") == F.col("u"))
        .join(F.broadcast(dv), F.col("dv.n") == F.col("v"))
        .select(
            "u",
            "v",
            "common_neighbors",
            "aa_micro",
            F.expr(
                "CAST(common_neighbors * 1000000 DIV (du.d + dv.d - common_neighbors)"
                " AS BIGINT)"
            ).alias("jaccard_micro"),
        )
        .orderBy(F.col("aa_micro").desc(), "u", "v")
        .limit(25)
    )


# Degree-assortativity Pearson r over directed edge endpoints, as ONE
# shared SQL text: all moments are exact BIGINT sums (bounds in the
# docstring), the final chain is sqrt-each-factor-then-divide on
# doubles (the a51 Spearman posture — the ssx*ssy product would
# overflow BIGINT long before either factor does).
_ASSORT_R = (
    "CAST(CASE WHEN m2 * sxx - sx * sx = 0 OR m2 * syy - sy * sy = 0 THEN 0 ELSE"
    " FLOOR((CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (SQRT(CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * SQRT(CAST(m2 AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    " * 1000000) END AS BIGINT)"
)

_ASSORT_ORACLE = f"""{_TRADE_EDGES_CTES},
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    joined AS (
        SELECT ds.d AS jx, dd.d AS jy
        FROM edges e
        JOIN deg ds ON ds.node = e.src
        JOIN deg dd ON dd.node = e.dst
    ),
    moms AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m2,
               CAST(SUM(jx) AS BIGINT) AS sx,
               CAST(SUM(jy) AS BIGINT) AS sy,
               CAST(SUM(jx * jx) AS BIGINT) AS sxx,
               CAST(SUM(jy * jy) AS BIGINT) AS syy,
               CAST(SUM(jx * jy) AS BIGINT) AS sxy
        FROM joined
    )
    SELECT m2 AS n_directed_edges, sx AS sum_src_deg, sxy AS sum_deg_product,
           {_ASSORT_R} AS assortativity_micro
    FROM moms
"""


@register("graph_degree_assortativity", _ASSORT_ORACLE)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the trade graph — Newman's r: the
    Pearson correlation of (deg(src), deg(dst)) over directed edges,
    the "do hubs attach to hubs" readout (bipartite trade graphs are
    typically DISassortative: high-degree suppliers serve long tails
    of low-degree customers). Plan: deg(src) is the d already on the
    cached trade_graph edges; deg(dst) is one node-keyed join against
    the node degrees; moments are ONE map-side aggregate. Exactness: all six moments are BIGINT sums — with
    64-bit headroom up to ~3e5 max degree at 1e8 directed edges
    (m2*sxx is the binding term; past that, center degrees on the
    integer mean first, the ts10 rule) — and the final r is the
    shared-text IEEE chain _ASSORT_R (sqrt each variance factor
    separately, never their product). By symmetry of the
    bidirectional edge list sx=sy and sxx=syy; both are still
    computed independently so the oracle cross-checks the join, and
    the symmetry is pinned in tests."""
    edges_p = trade_graph(spark, sf_dir)
    deg = edges_p.select(F.col("src").alias("e_dst"), F.col("d").alias("jy")).distinct()
    joined = edges_p.join(deg, F.col("dst") == F.col("e_dst")).select(
        F.col("d").alias("jx"), "jy"
    )
    moms = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("m2"),
        F.sum("jx").cast("bigint").alias("sx"),
        F.sum("jy").cast("bigint").alias("sy"),
        F.sum(F.col("jx") * F.col("jx")).cast("bigint").alias("sxx"),
        F.sum(F.col("jy") * F.col("jy")).cast("bigint").alias("syy"),
        F.sum(F.col("jx") * F.col("jy")).cast("bigint").alias("sxy"),
    )
    return moms.select(
        F.col("m2").alias("n_directed_edges"),
        F.col("sx").alias("sum_src_deg"),
        F.col("sxy").alias("sum_deg_product"),
        F.expr(_ASSORT_R).alias("assortativity_micro"),
    )


@register(
    "graph_triangle_count",
    _part_pairs_cte(1)
    + """,
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM pairs e1
        JOIN pairs e2 ON e2.u = e1.v
        JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles
    FROM tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: triangle counting on the co-purchase part graph (parts that
    appear on the same order are connected). The standard distributed
    formulation: orient every edge low->high part key (kills the 3x
    double-count and halves the wedge fan-out), build wedges by joining
    edges on the shared middle vertex, then close each wedge with a
    third edge-join — two shuffle joins on integer keys, no iteration.
    The edge list is the cached raw projection, part_graph with
    min_support 1; at 100 TB the wedge join is the skew point (hot
    vertices) and composes with the a21/x4 salting ops. Integer
    counts, bit-exact."""
    edges = part_graph(spark, sf_dir, 1)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    wedges = e1.join(e2, F.col("e2.u") == F.col("e1.v"))
    tri = wedges.join(
        e3,
        (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return n_edges.crossJoin(tri).select("n_edges", "n_triangles")


_RICH_KS = [1, 2, 4, 8, 16, 32]

# Rich-club coefficient phi(k) = E_k / (N_k * (N_k - 1) / 2) with E_k
# the UNDIRECTED edge count among nodes of degree > k — carried as
# directed/2 exactly (the symmetric edge list makes e_dir even), so
# phi_micro = e_dir * 1e6 / (n * (n-1)) is ONE all-integer division
# (numerator <= m2 * 1e6: BIGINT-safe below ~9e12 directed edges;
# operands non-negative, where DIV and // agree). The operator spells
# integer division differently per engine (Spark DIV, DuckDB //), so
# the text takes it as a parameter.
def _rich_phi(idiv: str) -> str:
    return (
        "CAST(CASE WHEN n_rich < 2 THEN 0 ELSE"
        f" e_rich_directed * 1000000 {idiv} (n_rich * (n_rich - 1)) END AS BIGINT)"
    )

_RICH_ORACLE = f"""{_TRADE_EDGES_CTES},
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    ks AS (SELECT UNNEST({_RICH_KS}) AS k),
    nodes_k AS (
        SELECT ks.k, CAST(COUNT(deg.d) AS BIGINT) AS n_rich
        FROM ks LEFT JOIN deg ON deg.d > ks.k
        GROUP BY ks.k
    ),
    edges_k AS (
        SELECT ks.k, CAST(COUNT(j.d_src) AS BIGINT) AS e_rich_directed
        FROM ks
        LEFT JOIN (
            SELECT ds.d AS d_src, dd.d AS d_dst
            FROM edges e
            JOIN deg ds ON ds.node = e.src
            JOIN deg dd ON dd.node = e.dst
        ) j ON j.d_src > ks.k AND j.d_dst > ks.k
        GROUP BY ks.k
    )
    SELECT CAST(n.k AS BIGINT) AS k,
           n.n_rich,
           e.e_rich_directed,
           {_rich_phi("//")} AS phi_micro
    FROM nodes_k n JOIN edges_k e ON e.k = n.k
    ORDER BY k
"""


@register("graph_rich_club", _RICH_ORACLE)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the trade graph at degree thresholds
    k in {{1,2,4,8,16,32}} — phi(k) = density among nodes of degree
    > k: "do the hubs trade with EACH OTHER, or only with the
    periphery?" The structural complement to graph_degree_assortativity
    (assortativity is one correlation over all edges; the rich-club
    curve localizes it to the hub subgraph at each threshold — on a
    bipartite customer<->supplier graph hubs of the same side never
    link, so phi stays far below an equivalent unipartite graph's, and
    the replay test pins phi <= the overall density ratio shape).
    Plan: d_src is the d on the cached trade_graph edges and d_dst
    one node-keyed join (the assortativity shape), then a 6-way
    threshold fan-out of COUNTS — the k-grid multiplies a node/edge
    CENSUS, never the corpus. Exactness: counts are BIGINT; phi is one
    all-integer micro division (_rich_phi; e_dir is even by edge-list
    symmetry so the directed count IS 2x the undirected count the
    classic definition wants — the /2 cancels in the ratio)."""
    edges_p = trade_graph(spark, sf_dir)
    deg = edges_p.select("src", "d").distinct()
    ks = spark.range(0).sparkSession.createDataFrame(
        [(k,) for k in _RICH_KS], "k bigint"
    )
    nodes_k = (
        deg.join(F.broadcast(ks), deg.d > ks.k, "right")
        .groupBy("k")
        .agg(F.count(deg.d).cast("bigint").alias("n_rich"))
    )
    endp = edges_p.join(
        deg.select(F.col("src").alias("e_dst"), F.col("d").alias("d_dst")),
        F.col("dst") == F.col("e_dst"),
    ).select(F.col("d").alias("d_src"), "d_dst")
    edges_k = (
        endp.join(
            F.broadcast(ks),
            (F.col("d_src") > F.col("k")) & (F.col("d_dst") > F.col("k")),
            "right",
        )
        .groupBy("k")
        .agg(F.count("d_src").cast("bigint").alias("e_rich_directed"))
    )
    return (
        nodes_k.join(edges_k, "k")
        .select(
            F.col("k").cast("bigint").alias("k"),
            "n_rich",
            "e_rich_directed",
            F.expr(_rich_phi("DIV")).alias("phi_micro"),
        )
        .orderBy("k")
    )


# --- ANF: neighborhood function N(t) via bitmap propagation ------------------

_ANF_ROUNDS = 3
_ANF_WORD_BITS = 62  # never touch the BIGINT sign bit (1 << 61 max)
# Track a deterministic 1-in-16 SOURCE sample (node % 16 == 1), bits
# densely remapped to (node DIV 16): exact all-sources bitmaps go
# near-DENSE by round 3 (state ~ nodes x all-words: measured 9 min at
# sf0.1, vs ~20 s sampled) — the blow-up that motivates both the ANF
# paper's k-seed estimator (this) and HyperANF's HLL registers (the
# alternative 100 TB path: same plan, word -> register array,
# BIT_OR -> register max).
_ANF_SAMPLE_MOD = 16


def _anf_round_sql(prev: str, out: str) -> str:
    """One synchronous bitmap-OR round: every node ORs its neighbors'
    reachability bitmaps into its own. MATERIALIZED so DuckDB does not
    re-inline the exponentially growing closure (the t30 lesson)."""
    return f"""
    {out} AS MATERIALIZED (
        SELECT node, widx, CAST(BIT_OR(word) AS BIGINT) AS word
        FROM (
            SELECT e.dst AS node, s.widx, s.word
            FROM edges e JOIN {prev} s ON s.node = e.src
            UNION ALL
            SELECT node, widx, word FROM {prev}
        )
        GROUP BY node, widx
    )"""


_ANF_ORACLE = f"""{_TRADE_EDGES_CTES},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    s0 AS (
        SELECT node,
               (node // {_ANF_SAMPLE_MOD}) // {_ANF_WORD_BITS} AS widx,
               CAST(CAST(1 AS BIGINT)
                    << CAST((node // {_ANF_SAMPLE_MOD}) % {_ANF_WORD_BITS} AS INT)
                    AS BIGINT) AS word
        FROM nodes WHERE node % {_ANF_SAMPLE_MOD} = 1
    ),
    nsrc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sources FROM s0),
    {",".join(_anf_round_sql(f"s{i}", f"s{i + 1}") for i in range(_ANF_ROUNDS))}
    SELECT t, pairs_reached, n_sources FROM (
        SELECT CAST(0 AS BIGINT) AS t,
               CAST(SUM(BIT_COUNT(word)) AS BIGINT) AS pairs_reached FROM s0
        {"".join(
            f'UNION ALL SELECT CAST({i + 1} AS BIGINT), '
            f'CAST(SUM(BIT_COUNT(word)) AS BIGINT) FROM s{i + 1} '
            for i in range(_ANF_ROUNDS)
        )}
    ), nsrc ORDER BY t
"""


@register("graph_anf_neighborhood", _ANF_ORACLE)
def graph_anf_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANF neighborhood function N(t) = number of (source, reachable)
    pairs within t hops, t in 0..{n}, over a deterministic 1-in-{m}
    source sample — the curve behind effective diameter, median
    distance, and "how separated are two corpora in the link graph"
    (Palmer/Gibbons/Faloutsos ANF, KDD'02; seed sampling is that
    paper's estimator, HyperANF the HLL-register variant). Each node
    carries a BITMAP of the sampled sources that reach it, as SPARSE
    (node, word_index, word) rows over {b}-bit BIGINT words; sampled
    sources (node % {m} == 1) are remapped to DENSE bit positions
    (node DIV {m}) so the per-node state is ceil(nodes/{m}/{b}) words,
    never the raw id space. One round = neighbors' bitmaps OR'd into
    one's own = equi-join on the cached src-partitioned edges + BIT_OR
    hash agg keyed (node, widx) — plain shuffles on 8-byte keys, the
    pagerank posture, unrolled as MATERIALIZED CTEs in the oracle.
    EXACT for the sampled sources (certifiable: no randomness); the
    full-graph N(t) estimate is pairs_reached * {m} with the usual
    Horvitz-Thompson caveat. Why sample: exact all-sources bitmaps go
    near-dense by round 3 (measured 9 min at sf0.1 vs ~20 s sampled) —
    exactly the state blow-up HyperANF's fixed-width registers solve,
    which is the documented alternative at 100 TB (same plan, the word
    column becomes a register array, BIT_OR becomes register-max).
    N(t) is monotone; on this bipartite customer<->supplier graph N(1)
    adds direct trade links, N(2) same-supplier co-buyers; the pytest
    pins monotonicity and N(0) = sampled-source count exactly.
    The rounds run through ``iterate``.""".format(
        n=_ANF_ROUNDS, b=_ANF_WORD_BITS, m=_ANF_SAMPLE_MOD
    )
    edges = trade_graph(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    state = (
        nodes.where(F.col("node") % _ANF_SAMPLE_MOD == 1)
        .select(
            "node",
            F.expr(
                f"(node DIV {_ANF_SAMPLE_MOD}) DIV {_ANF_WORD_BITS}"
            ).alias("widx"),
            F.expr(
                f"SHIFTLEFT(CAST(1 AS BIGINT),"
                f" CAST((node DIV {_ANF_SAMPLE_MOD}) % {_ANF_WORD_BITS} AS INT))"
            ).alias("word"),
        )
        .localCheckpoint()
    )
    nsrc = state.agg(F.count(F.lit(1)).cast("bigint").alias("n_sources"))

    def step(state: DataFrame, r: int) -> DataFrame:
        nbr = edges.join(state, edges.src == state.node).select(
            F.col("dst").alias("node"), "widx", "word"
        )
        return (
            nbr.unionByName(state.select("node", "widx", "word"))
            .groupBy("node", "widx")
            .agg(F.expr("CAST(BIT_OR(word) AS BIGINT)").alias("word"))
        )

    counts = [
        s.agg(
            F.lit(i).cast("bigint").alias("t"),
            F.sum(F.expr("BIT_COUNT(word)")).cast("bigint").alias("pairs_reached"),
        )
        for i, s in enumerate(iterate(state, step, _ANF_ROUNDS))
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out.crossJoin(F.broadcast(nsrc)).orderBy("t")


# --- Greedy maximal matching (local-max edge rounds) --------------------------

_MATCH_ROUNDS = 4
# Injective deterministic edge priority: 31 bits of portable md5 over
# "u:v" shifted above a 32-bit canonical edge index (u*65536 + v —
# injective while node ids < 2^16; beyond that the documented carry is
# lexicographic (h, u, v) comparison). Injectivity matters: a priority
# TIE between two edges at one node would select both and break the
# matching; with distinct priorities local-max selection is exact.
_MATCH_PRI_SPARK = (
    "CONV(SUBSTR(MD5(CONCAT(CAST(u AS STRING), ':', CAST(v AS STRING))), 1, 8),"
    " 16, 10) % 2147483648 * 4294967296 + u * 65536 + v"
)
_MATCH_PRI_DUCK = (
    "('0x' || SUBSTR(MD5(u || ':' || v), 1, 8))::BIGINT"
    " % 2147483648 * 4294967296 + u * 65536 + v"
)


def _match_round_sql(prev: str, r: int) -> str:
    """One local-max round: an edge joins the matching iff its priority
    is the maximum among ALL alive edges at BOTH endpoints (Israeli-
    Itai style, made deterministic by the injective priority); its
    endpoints then leave the graph."""
    return f"""
    best{r} AS (
        SELECT node, MAX(pri) AS bp FROM (
            SELECT u AS node, pri FROM {prev}
            UNION ALL SELECT v AS node, pri FROM {prev}
        ) GROUP BY node
    ),
    sel{r} AS MATERIALIZED (
        SELECT e.u, e.v, e.pri FROM {prev} e
        JOIN best{r} bu ON bu.node = e.u AND bu.bp = e.pri
        JOIN best{r} bv ON bv.node = e.v AND bv.bp = e.pri
    ),
    m{r} AS (SELECT u AS node FROM sel{r} UNION SELECT v AS node FROM sel{r}),
    a{r} AS MATERIALIZED (
        SELECT e.* FROM {prev} e
        WHERE e.u NOT IN (SELECT node FROM m{r})
          AND e.v NOT IN (SELECT node FROM m{r})
    )"""


_MATCH_ORACLE = f"""{_TRADE_EDGES_CTES},
    a0 AS MATERIALIZED (
        SELECT src AS u, dst AS v, CAST({_MATCH_PRI_DUCK} AS BIGINT) AS pri
        FROM edges WHERE src < dst
    ),
    {",".join(_match_round_sql(f"a{r - 1}", r) for r in range(1, _MATCH_ROUNDS + 1))},
    allsel AS (
        {" UNION ALL ".join(f"SELECT u, v FROM sel{r}" for r in range(1, _MATCH_ROUNDS + 1))}
    ),
    valid AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM allsel)
                   AS total_matched_edges,
               CAST(MAX(cnt) AS BIGINT) AS max_node_multiplicity
        FROM (SELECT node, COUNT(*) AS cnt FROM (
                SELECT u AS node FROM allsel UNION ALL SELECT v FROM allsel
              ) GROUP BY node)
    )
    SELECT r AS round, n_selected, n_alive_after,
           total_matched_edges, max_node_multiplicity
    FROM (
        {" UNION ALL ".join(
            f"SELECT CAST({r} AS BIGINT) AS r,"
            f" CAST((SELECT COUNT(*) FROM sel{r}) AS BIGINT) AS n_selected,"
            f" CAST((SELECT COUNT(*) FROM a{r}) AS BIGINT) AS n_alive_after"
            for r in range(1, _MATCH_ROUNDS + 1)
        )}
    ), valid ORDER BY round
"""


@register("graph_greedy_matching", _MATCH_ORACLE)
def graph_greedy_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximal matching on the trade graph via {n} synchronous
    local-max rounds (Israeli-Itai made deterministic): an edge enters
    the matching iff its priority is the maximum among all alive edges
    at BOTH endpoints; matched endpoints leave. The edge-world twin of
    graph_mis_luby's node selection — matching is the primitive behind
    pairwise dedup assignment, entity-pair arbitration, and graph
    coarsening for multilevel partitioners. Determinism: the priority
    is INJECTIVE (31 md5 bits above the canonical edge index u*65536+v
    — injective while ids < 2^16, lexicographic (h,u,v) is the
    documented carry), because a tie at a node would select two edges
    and break the matching; the in-query validity frame computes
    max_node_multiplicity, which the pytest pins to exactly 1, plus
    the selected-edge total. Plan: per round, one endpoint-keyed MAX
    agg + one equi-join back + two anti-joins — all 8-byte node-keyed
    shuffles off the cached canonical edge list (the MIS posture);
    the rounds run through ``iterate``; the oracle unrolls the
    rounds as MATERIALIZED CTEs. Maximality within the horizon is
    reported honestly as n_alive_after (edges whose endpoints are all
    unmatched after round {n}).""".format(n=_MATCH_ROUNDS)
    e0 = trade_graph(spark, sf_dir).where(F.col("src") < F.col("dst"))
    alive = cache_once(
        e0.select(
            F.col("src").alias("u"),
            F.col("dst").alias("v"),
            F.expr(f"CAST({_MATCH_PRI_SPARK} AS BIGINT)").alias("pri"),
        )
    )
    sels = []

    def step(alive: DataFrame, r: int) -> DataFrame:
        ep = alive.select(F.col("u").alias("node"), "pri").unionByName(
            alive.select(F.col("v").alias("node"), "pri")
        )
        best = ep.groupBy("node").agg(F.max("pri").alias("bp"))
        bu = best.select(F.col("node").alias("bu_n"), F.col("bp").alias("bu_p"))
        bv = best.select(F.col("node").alias("bv_n"), F.col("bp").alias("bv_p"))
        sel = (
            alive.join(bu, (F.col("u") == F.col("bu_n")) & (F.col("pri") == F.col("bu_p")))
            .join(bv, (F.col("v") == F.col("bv_n")) & (F.col("pri") == F.col("bv_p")))
            .select("u", "v", "pri")
            .localCheckpoint()
        )
        sels.append(sel)
        matched = (
            sel.select(F.col("u").alias("node"))
            .unionByName(sel.select(F.col("v").alias("node")))
            .distinct()
        )
        return (
            alive.join(matched, alive.u == matched.node, "left_anti")
            .join(matched, alive.v == matched.node, "left_anti")
        )

    states = iterate(alive, step, _MATCH_ROUNDS)
    rounds = [
        sel.agg(F.count(F.lit(1)).cast("bigint").alias("n_selected"))
        .crossJoin(alive.agg(F.count(F.lit(1)).cast("bigint").alias("n_alive_after")))
        .select(F.lit(r).cast("bigint").alias("round"), "n_selected", "n_alive_after")
        for r, (sel, alive) in enumerate(zip(sels, states[1:]), 1)
    ]
    allsel = sels[0]
    for s in sels[1:]:
        allsel = allsel.unionByName(s)
    valid = (
        allsel.select(F.col("u").alias("node"))
        .unionByName(allsel.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            (F.sum("cnt") / 2).cast("bigint").alias("total_matched_edges"),
            F.max("cnt").cast("bigint").alias("max_node_multiplicity"),
        )
    )
    out = rounds[0]
    for rr in rounds[1:]:
        out = out.unionByName(rr)
    return out.crossJoin(F.broadcast(valid)).orderBy("round")
