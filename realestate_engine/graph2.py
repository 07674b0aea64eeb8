"""Graph analytics, file 2 — graph.py reached the 2,000-LoC line
(1,906 after round 9's modularity + assortativity), so new graph
operators land here (the VERDICT r8 #6 family-file rule).

Same contract as graph.py: the trade graph comes from trade_graph
(packed ids, mirrored, cached src-partitioned with d on the edges) and
its oracle prelude from _TRADE_EDGES_CTES; BIGINT state, oracle SQL
replaying the identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestate_engine.graph import _TRADE_EDGES_CTES, trade_graph
from realestate_engine.registry import cache_once, iterate, register

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
