"""Tests for the graph module (fixed-point PageRank) and the
binaryFile source scan."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from realestate_engine.graph import SCALE, pagerank
from realestate_engine.queries_sources_sql import s13_binaryfile_scan


def _reference_pagerank(
    edges: list[tuple[str, str]], n_iter: int, seeds: set[str] | None = None
) -> dict[str, int]:
    """Plain-Python mirror of the integer recurrence; with ``seeds`` the
    personalized form (init and base term on the seeds in the graph)."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    targets = set(nodes) if seeds is None else set(nodes) & seeds
    n = len(targets)
    deg: dict[str, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    ranks = {v: SCALE // n if v in targets else 0 for v in nodes}
    for _ in range(n_iter):
        inflow = {v: 0 for v in nodes}
        for s, d in edges:
            inflow[d] += ranks[s] // deg[s]
        ranks = {
            v: ((15 * SCALE) // (100 * n) if v in targets else 0) + (85 * inflow[v]) // 100
            for v in nodes
        }
    return ranks


def _pagerank_rows(spark, edges, n_iter, seeds=None) -> dict[str, int]:
    """pagerank over a plain (src, dst) list, with d attached the way
    trade_graph attaches it."""
    df = spark.createDataFrame(edges, ["src", "dst"])
    edges_p = df.join(df.groupBy("src").agg(F.count(F.lit(1)).alias("d")), "src")
    seed_df = None if seeds is None else spark.createDataFrame([(s,) for s in sorted(seeds)], ["node"])
    return {r["node"]: r["rank_micro"] for r in pagerank(edges_p, n_iter, seed_df).collect()}


def test_pagerank_matches_exact_recurrence(spark):
    edges = [
        ("a", "b"), ("b", "a"),
        ("a", "c"), ("c", "a"),
        ("b", "c"), ("c", "b"),
        ("c", "d"), ("d", "c"),
    ]
    got = _pagerank_rows(spark, edges, 3)
    want = _reference_pagerank(edges, 3)
    assert got == want
    # total rank mass stays ~1.0 (floor losses only: < n_nodes units per step)
    assert abs(sum(got.values()) - SCALE) < 4 * len(want) * 4


def test_pagerank_hub_ordering(spark, sf_dir):
    from realestate_engine.graph import graph_pagerank_trade

    rows = graph_pagerank_trade(spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    ranks = [r["rank_micro"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    # suppliers aggregate many customers' mass -> the top hub is a
    # supplier (odd packed id: node = 2*suppkey + 1)
    assert rows[0]["node"] % 2 == 1


def test_binaryfile_lengths_match_filesystem(spark, sf_dir):
    rows = s13_binaryfile_scan(spark, sf_dir).collect()
    assert {r["table_name"] for r in rows} == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    for r in rows:
        path = os.path.join(sf_dir, r["table_name"] + ".parquet")
        assert r["n_bytes"] == os.path.getsize(path)
        assert r["content_bytes"] == r["n_bytes"]


def _py_interleave(x: int, y: int) -> int:
    z = 0
    for i in range(16):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_expr_matches_python(spark):
    from realestate_engine.queries_sources_sql import _interleave_bits_expr

    rows = [(x, y) for x in (0, 1, 5, 150, 255, 65535) for y in (0, 3, 77, 2433, 65535)]
    df = spark.createDataFrame(rows, ["xm", "ym"]).select(
        "xm", "ym", F.expr(_interleave_bits_expr("xm", "ym")).cast("bigint").alias("zval")
    )
    for r in df.collect():
        assert r["zval"] == _py_interleave(r["xm"], r["ym"]), (r["xm"], r["ym"])


def test_zorder_layout_localizes_both_dims(spark, tmp_path):
    from realestate_engine.queries_sources_sql import _interleave_bits_expr

    # balanced 256x256 grid: 16 range partitions must narrow BOTH dims
    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("xm"), (F.col("id") / 256).cast("bigint").alias("ym")
    )
    z = grid.select("xm", "ym", F.expr(_interleave_bits_expr("xm", "ym")).alias("zval"))
    out = str(tmp_path / "zorder")
    z.repartitionByRange(16, "zval").sortWithinPartitions("zval").write.parquet(out)
    per_file = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("xm") - F.min("xm")).alias("xspread"),
            (F.max("ym") - F.min("ym")).alias("yspread"),
        )
        .agg(F.avg("xspread").alias("x"), F.avg("yspread").alias("y"))
        .collect()[0]
    )
    # global spread is 255 on each dim; z-order files must be local in both
    assert per_file["x"] < 0.55 * 255, per_file
    assert per_file["y"] < 0.55 * 255, per_file


def test_mllib_text_featurization_invariants(spark, sf_dir):
    from realestate_engine.queries_ml import m15_text_featurization

    rows = m15_text_featurization(spark, sf_dir).collect()
    assert len(rows) == 500
    for r in rows:
        assert r["dim"] == r["vocab_size"] > 0
        assert 0 < r["nnz"] <= min(r["n_tokens"], r["vocab_size"])
        assert r["norm_ok"]


def test_label_propagation_matches_exact_reference(spark, sf_dir):
    """Re-run the 3-round synchronous mode/min recurrence in pure
    Python over the same packed-int edge set; community sizes must
    match exactly."""
    import collections

    from realestate_engine.registry import QUERIES

    got = [(r["community"], r["size"]) for r in QUERIES["graph_label_propagation"](spark, sf_dir).collect()]

    o = {r["o_orderkey"]: r["o_custkey"] for r in spark.read.parquet(f"{sf_dir}/orders.parquet").collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_suppkey").collect()
    pairs = {(2 * o[r["l_orderkey"]], 2 * r["l_suppkey"] + 1) for r in li if r["l_orderkey"] in o}
    adj = collections.defaultdict(set)
    for c, s in pairs:
        adj[c].add(s)
        adj[s].add(c)
    labels = {n: n for n in adj}
    for _ in range(3):
        new = {}
        for n in adj:
            votes = collections.Counter(labels[m] for m in adj[n])
            # most frequent, ties -> smallest label
            new[n] = min(votes, key=lambda l: (-votes[l], l))
        labels = new
    sizes = collections.Counter(labels.values())
    expected = sorted(((lbl, n) for lbl, n in sizes.items()), key=lambda t: (-t[1], t[0]))[:25]
    assert got == expected


def test_kcore_converged_and_degrees_hold(spark, sf_dir):
    """8 peeling rounds must reach the true k-core fixpoint on the
    testdata (round 9 changes nothing), and every surviving node's
    degree within the core is >= k."""
    from realestate_engine.graph import KCORE_K, kcore_peel, trade_edges

    edges = trade_edges(spark, sf_dir)
    got8 = {(r["node"], r["core_degree"]) for r in kcore_peel(edges, n_rounds=8).collect()}
    got9 = {(r["node"], r["core_degree"]) for r in kcore_peel(edges, n_rounds=9).collect()}
    assert got8 == got9  # fixpoint reached within the bounded rounds
    assert got8  # the 3-core is non-empty on the trade graph
    assert all(d >= KCORE_K for _, d in got8)
