"""Property-based tests (hypothesis) for the deterministic kernels:
Z-order interleaving, fixed-point PageRank and connected components.
Each example batches many rows into ONE Spark job so the property
sweep stays fast."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.test_graph_sources import _pagerank_rows, _py_interleave, _reference_pagerank

COMMON = dict(
    deadline=None,
    max_examples=5,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 65535), st.integers(0, 65535)), min_size=1, max_size=64
    )
)
@settings(**COMMON)
def test_zorder_interleave_property(spark, pairs):
    from realestate_engine.queries_sources_sql import _interleave_bits_expr

    df = spark.createDataFrame(pairs, ["xm", "ym"]).select(
        "xm", "ym", F.expr(_interleave_bits_expr("xm", "ym")).cast("bigint").alias("zval")
    )
    for r in df.collect():
        assert r["zval"] == _py_interleave(r["xm"], r["ym"])


@given(
    raw_edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=15,
    ),
    n_iter=st.integers(1, 3),
)
@settings(**COMMON)
def test_pagerank_property(spark, raw_edges, n_iter):
    # undirected, deduped — matches the engine's edge contract
    edges = sorted({(f"n{a}", f"n{b}") for a, b in raw_edges} | {
        (f"n{b}", f"n{a}") for a, b in raw_edges
    })
    assert _pagerank_rows(spark, edges, n_iter) == _reference_pagerank(edges, n_iter)


@given(
    raw_edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=15,
    ),
    seed_ids=st.sets(st.integers(0, 9), min_size=1, max_size=4),
    n_iter=st.integers(1, 3),
)
@settings(**COMMON)
def test_personalized_pagerank_property(spark, raw_edges, seed_ids, n_iter):
    """The seeded recurrence (personalized PageRank). Seed ids 7-9 are
    never graph nodes, so the restriction of the seed set to the graph
    is exercised too; a draw with no seed in the graph is skipped."""
    edges = sorted({(f"n{a}", f"n{b}") for a, b in raw_edges} | {
        (f"n{b}", f"n{a}") for a, b in raw_edges
    })
    seeds = {f"n{i}" for i in seed_ids}
    assume(seeds & {s for s, _ in edges})
    got = _pagerank_rows(spark, edges, n_iter, seeds)
    assert got == _reference_pagerank(edges, n_iter, seeds)


def _union_find_labels(pairs):
    """Python union-find reference: node -> min id of its component."""
    parent = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)), min_size=1, max_size=20
    )
)
@settings(**COMMON)
def test_connected_components_match_union_find(spark, pairs):
    """Both CC algorithms (label propagation with pointer doubling, and
    two-star contraction) label each node with its component's min id."""
    from realestate_engine.dedup import connected_components, connected_components_twostar

    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    want = _union_find_labels(pairs)
    for cc in (connected_components, connected_components_twostar):
        got = {r.doc_id: r.cluster_id for r in cc(df).collect()}
        assert got == want, cc.__name__


def _path(n: int) -> list[tuple[int, int]]:
    return [(i, i + 1) for i in range(n - 1)]


# (loop, input builder, raising budget, converging budget, exact answer)
_PROBE_LOOPS = {
    "connected_components": (
        lambda spark: spark.createDataFrame(_path(33), "id_a long, id_b long"),
        {"max_iter": 2},
        {},
        lambda got: {r.doc_id: r.cluster_id for r in got}
        == _union_find_labels(_path(33)),
    ),
    "connected_components_twostar": (
        lambda spark: spark.createDataFrame(_path(33), "id_a long, id_b long"),
        {"max_iter": 2},
        {},
        lambda got: {r.doc_id: r.cluster_id for r in got}
        == _union_find_labels(_path(33)),
    ),
    # a path has no 2-core: each synchronous round peels one edge off
    # either end, so 21 nodes need 10 peels plus the round that repeats
    "kcore_peel": (
        lambda spark: spark.createDataFrame(
            [e for a, b in _path(21) for e in ((a, b), (b, a))], "src long, dst long"
        ),
        {"k": 2, "n_rounds": 2},
        {"k": 2, "n_rounds": 11},
        lambda got: got == [],
    ),
}


@pytest.mark.parametrize("loop", sorted(_PROBE_LOOPS))
def test_connected_components_raises_when_rounds_run_out(spark, loop):
    """A fixed-point loop whose round budget runs out raises instead of
    returning an unconverged state (connected components, two-star and
    k-core share iterate's one stop rule); a large enough budget gives
    the exact answer on the same input."""
    from realestate_engine import dedup, graph

    fn = getattr(dedup, loop, None) or getattr(graph, loop)
    build, short, enough, exact = _PROBE_LOOPS[loop]
    df = build(spark)
    with pytest.raises(RuntimeError, match=f"{loop}: no fixed point after 2 rounds"):
        fn(df, **short).collect()
    assert exact(fn(df, **enough).collect())


def test_iterate_checkpoints_every_round(spark):
    """Without a probe, iterate runs exactly ``rounds`` rounds and returns
    rounds + 1 states, each a checkpoint: its plan is a leaf that reads
    no join, however many self-joins the rounds stacked."""
    from realestate_engine.registry import iterate

    def step(s, r):
        other = s.select(F.col("id").alias("id2"), (F.col("x") + r).alias("x2"))
        return s.join(other, s.id == other.id2).select("id", (F.col("x") + F.col("x2")).alias("x"))

    s0 = spark.range(8).select("id", F.col("id").alias("x")).localCheckpoint()
    states = iterate(s0, step, 3)
    assert len(states) == 4
    for s in states:
        plan = s._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan and "Join" not in plan, plan
    # x_r = 2 * x_{r-1} + r from x_0 = id: 2id + 1, 4id + 4, 8id + 11
    assert sorted(tuple(r) for r in states[-1].collect()) == [(i, 8 * i + 11) for i in range(8)]


def test_portable_hash_pipeline_matches_duckdb(spark):
    """Cross-engine property: the ENTIRE portable sketch pipeline —
    md5-prefix word hashes, rolling-polynomial 3-gram shingles, affine
    minhash lanes — produces bit-identical values in Spark and DuckDB
    over adversarial texts (unicode, empty, 1-2 words, repeated words,
    mixed whitespace). This is the foundation the LSH oracles stand on;
    a divergence here silently poisons every sketch comparison."""
    import random

    import duckdb

    from realestate_engine.dedup import (
        _MINHASH_COEFFS,
        _MINHASH_PRIME,
        shingle_hashes,
    )

    rng = random.Random(1234)
    words = ["data", "Data", "SPARK", "élève", "naïve", "模型", "x", "longer-word"]
    texts = [
        "",
        "one",
        "two words",
        "a  b\tc\nd",  # mixed whitespace collapses identically
        "répète répète répète naïve 模型 模型",
    ] + [
        " ".join(rng.choice(words) for _ in range(rng.randint(1, 30))) for _ in range(60)
    ]
    rows = [(i, t) for i, t in enumerate(texts)]

    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    p = _MINHASH_PRIME
    a0, b0 = _MINHASH_COEFFS[0]
    spark_out = {
        r["doc_id"]: (sorted(r["sh"]), r["mh0"])
        for r in sdf.select(
            "doc_id",
            shingle_hashes(F.col("text")).alias("sh"),
        )
        .withColumn(
            "mh0",
            F.array_min(
                F.transform("sh", lambda h: (h * F.lit(a0 % p) + F.lit(b0)) % F.lit(p))
            ),
        )
        .collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    duck = con.execute(
        rf"""
        WITH wh AS (
            SELECT doc_id,
                   LIST_TRANSFORM(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
                                  w -> ('0x' || SUBSTR(MD5(w), 1, 8))::BIGINT) AS hs
            FROM docs
        ),
        sh AS (
            SELECT doc_id,
                   LIST_DISTINCT(LIST_TRANSFORM(
                       RANGE(1, GREATEST(LEN(hs) - 1, 1)),
                       i -> ((hs[i] * 1000003 + hs[i+1]) % {p} * 1000003 + hs[i+2]) % {p}
                   )) AS sh
            FROM wh
        )
        SELECT doc_id, sh,
               LIST_MIN(LIST_TRANSFORM(sh, h -> (h * {a0 % p} + {b0}) % {p})) AS mh0
        FROM sh
        """
    ).fetchall()
    duck_out = {d: (sorted(sh), mh0) for d, sh, mh0 in duck}

    assert spark_out.keys() == duck_out.keys()
    for k in spark_out:
        assert spark_out[k] == duck_out[k], (k, texts[k], spark_out[k], duck_out[k])


@given(
    tokens=st.lists(st.integers(1, 400), min_size=1, max_size=120),
    budget=st.integers(16, 300),
    n_shards=st.integers(1, 8),
)
@settings(**COMMON)
def test_pack_greedy_property(spark, tokens, budget, n_shards):
    """Randomized packing invariants vs an exact Python replay: every
    doc assigned exactly once, per-pack fill <= budget unless the pack
    is a single oversized doc, pack_seq contiguous in doc_id order, and
    the whole assignment equal to the sequential reference."""
    from realestate_engine.packing import pack_greedy

    docs = [(i, n) for i, n in enumerate(tokens)]
    df = spark.createDataFrame(docs, "doc_id long, n_tokens long")
    got = {
        r["doc_id"]: (r["shard"], r["pack_id"], r["pack_seq"])
        for r in pack_greedy(df, budget=budget, n_shards=n_shards).collect()
    }

    # exact sequential reference per shard
    exp = {}
    for shard in range(n_shards):
        pack_no, fill, seq = 0, 0, 0
        for i, n in docs:
            if i % n_shards != shard:
                continue
            if fill > 0 and fill + n > budget:
                pack_no, fill, seq = pack_no + 1, 0, 0
            exp[i] = (shard, shard * 1_000_000 + pack_no, seq)
            fill += n
            seq += 1
    assert got == exp

    # fill contract: over-budget packs must be singletons
    fills: dict[int, int] = {}
    members: dict[int, int] = {}
    for i, n in docs:
        pid = got[i][1]
        fills[pid] = fills.get(pid, 0) + n
        members[pid] = members.get(pid, 0) + 1
    for pid, f in fills.items():
        assert f <= budget or members[pid] == 1


@given(
    st.lists(st.integers(min_value=1, max_value=5), min_size=10, max_size=40),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_ev11_pareto_tie_semantics(spark, cents_per_user):
    """ev11's strict `cents > p90` must EXCLUDE users sitting exactly on
    the p90 cut — the docstring's tie claim, pinned. With few distinct
    values ties on the discrete p90 are guaranteed to occur."""
    import os
    import tempfile

    from realestate_engine.queries_experiments import ev11_pareto_concentration

    d = tempfile.mkdtemp(prefix="ev11_tie_")
    rows = [(i, c / 100.0) for i, c in enumerate(cents_per_user)]
    spark.createDataFrame(rows, "o_custkey long, o_totalprice double").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "orders.parquet"))

    got = ev11_pareto_concentration(spark, d).collect()[0]

    # exact discrete p90 over per-user cents (one row per user here)
    s = sorted(cents_per_user)
    p90 = s[max(0, -(-len(s) * 9 // 10) - 1)]  # quantile_disc lower interpolation
    top = [c for c in cents_per_user if c > p90]
    assert got["n_users"] == len(cents_per_user)
    assert got["n_top"] == len(top)
    assert got["top_cents"] == sum(top)
    assert got["total_cents"] == sum(cents_per_user)
    # the tie rows (== p90) sit in the denominator, never in the top:
    # n_top counts strictly-above values only (checked exactly above),
    # so with ties present n_top < 10% of users whenever p90 repeats
    if cents_per_user.count(p90) > 0:
        assert got["n_top"] == sum(1 for c in cents_per_user if c > p90)


@given(devs=st.lists(st.integers(-1000, 1000), min_size=1, max_size=200))
@settings(deadline=None, max_examples=200)
def test_cusum_closed_form_identity(devs):
    """ts12/st_cusum's closed form — S_i = P_i - min(0, min_{j<=i} P_j)
    — equals the textbook recursion S_i = max(0, S_{i-1} + dev_i) for
    EVERY prefix, on arbitrary integer deviation sequences."""
    cusum, prefix, runmin = 0, 0, 0
    for d in devs:
        cusum = max(0, cusum + d)
        prefix += d
        runmin = min(runmin, prefix)
        assert cusum == prefix - min(0, runmin) == prefix - runmin


@given(
    bins=st.lists(
        st.tuples(st.integers(0, 50), st.integers(1, 60)), min_size=1, max_size=12
    )
)
@settings(deadline=None, max_examples=200)
def test_isotonic_max_min_equals_sequential_pav(bins):
    """m52's closed form — iso(i) = max_{j<=i} min_{k>=i} mean(j..k) —
    equals the sequential pool-adjacent-violators algorithm, on
    arbitrary (successes, count) bins (s <= n enforced)."""
    from fractions import Fraction

    bins = [(min(s, n), n) for s, n in bins]
    # sequential PAV with exact rational pools
    pools: list[tuple[int, int]] = []  # (sum_s, sum_n)
    for s, n in bins:
        pools.append((s, n))
        while len(pools) >= 2 and Fraction(pools[-2][0], pools[-2][1]) > Fraction(
            pools[-1][0], pools[-1][1]
        ):
            s2, n2 = pools.pop()
            s1, n1 = pools.pop()
            pools.append((s1 + s2, n1 + n2))
    # expand pools back to one fitted value per ORIGINAL bin (each pool
    # covers consecutive bins whose counts sum to the pool's n)
    fitted = []
    it = iter(bins)
    for s, n in pools:
        consumed = 0
        while consumed < n:
            consumed += next(it)[1]
            fitted.append(Fraction(s, n))
    # closed form
    m = len(bins)
    prefix_s = [0]
    prefix_n = [0]
    for s, n in bins:
        prefix_s.append(prefix_s[-1] + s)
        prefix_n.append(prefix_n[-1] + n)

    def mean(j, k):  # inclusive 0-based bins j..k
        return Fraction(prefix_s[k + 1] - prefix_s[j], prefix_n[k + 1] - prefix_n[j])

    for i in range(m):
        closed = max(min(mean(j, k) for k in range(i, m)) for j in range(0, i + 1))
        assert closed == fitted[i], (i, bins)


@given(
    entries=st.lists(
        st.floats(min_value=-8.0, max_value=8.0, allow_nan=False), min_size=10, max_size=10
    ),
    grad=st.lists(
        st.floats(min_value=-8.0, max_value=8.0, allow_nan=False), min_size=4, max_size=4
    ),
)
@settings(**COMMON)
def test_aft_cramer_generator_matches_numpy_solve(entries, grad):
    """The m24 oracle's symbolically generated 4x4 Cramer solve
    (queries_ml._aft_deltas) must agree with numpy's linear solve on
    random symmetric diagonally-dominated systems — the generator is
    otherwise only exercised end-to-end through the AFT fit."""
    import duckdb
    import numpy as np

    from realestate_engine.queries_ml import _aft_deltas

    h = np.zeros((4, 4))
    it = iter(entries)
    for i in range(4):
        for j in range(i, 4):
            h[i, j] = h[j, i] = next(it)
    # dominate the diagonal so the system is comfortably non-singular
    # (the AFT Hessian is negative definite in practice; the algebraic
    # identity under test holds for ANY invertible H)
    for i in range(4):
        h[i, i] += -20.0 if h[i, i] <= 0 else 20.0
    g = np.array(grad)

    binds = {f"h{i}{j}": h[i, j] for i in range(4) for j in range(i, 4)}
    binds.update({f"g{i}": g[i] for i in range(4)})
    # CAST to DOUBLE: DuckDB parses bare numeric literals as DECIMAL
    # (in the real oracle the h/g columns are DOUBLE SUM() outputs)
    cols = ", ".join(f"CAST({v!r} AS DOUBLE) AS {k}" for k, v in binds.items())
    exprs = ", ".join(f"({d}) AS d{i}" for i, d in enumerate(_aft_deltas()))
    got = duckdb.connect().execute(f"SELECT {exprs} FROM (SELECT {cols})").fetchone()
    want = np.linalg.solve(h, g)
    assert np.allclose(got, want, rtol=1e-9, atol=1e-9)
