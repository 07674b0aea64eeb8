"""Invariant pins for the round-5 operators (the oracle gate checks
exact values; these assert the PROPERTIES that must survive any future
re-implementation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from realestate_engine.registry import QUERIES, load_all, t as load_table

load_all()


def test_bloom_prune_ledger_invariants(spark, sf_dir):
    """The Bloom filter may over-admit (false positives) but must NEVER
    under-admit: every true match survives pruning, and with 2^16 bits
    over this key count the realized FP rate stays far under 5%."""
    r = QUERIES["j10_bloom_join_prune"](spark, sf_dir).collect()[0]
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    true_matches = (
        li.join(
            o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_semi",
        ).count()
    )
    assert r.n_matched == true_matches  # zero false negatives
    assert r.n_candidates >= r.n_matched
    assert r.n_false_pos == r.n_candidates - r.n_matched
    assert r.fp_rate_micro < 50_000  # < 5%


def test_retraction_ivm_state_merge_proof(spark, sf_dir):
    rows = QUERIES["x21_retraction_ivm"](spark, sf_dir).collect()
    assert rows and all(r.matches_direct for r in rows)
    # the maintained count must equal the post-CDC table's group size
    assert all(r.n_orders > 0 for r in rows)


def test_merkle_diff_flags_exactly_mutated_buckets(spark, sf_dir):
    rows = QUERIES["dq12_merkle_bucket_diff"](spark, sf_dir).collect()
    flagged = {r.bucket for r in rows}
    o = load_table(spark, sf_dir, "orders")
    expected = {
        r.bucket
        for r in o.filter(F.col("o_orderkey") % 97 == 0)
        .select((F.col("o_orderkey") % 64).alias("bucket"))
        .distinct()
        .collect()
    }
    # a mutated row always changes its bucket's additive fingerprint
    # (the md5 sum shifts by a non-zero delta with overwhelming odds)
    assert flagged == expected
    assert all(r.differs for r in rows)


def test_woe_bins_are_population_quintiles(spark, sf_dir):
    rows = QUERIES["m30_woe_iv_binning"](spark, sf_dir).collect()
    assert [r.bin for r in rows] == [0, 1, 2, 3, 4]
    sizes = [r.n_pos + r.n_neg for r in rows]
    total = sum(sizes)
    # discrete quintile cuts with ties: each bin within 2x of ideal
    assert all(s <= 2 * total / 5 + 1 for s in sizes)
    assert min(sizes) > 0


def test_psi_is_nonnegative_and_conserves_counts(spark, sf_dir):
    r = QUERIES["dq13_psi_drift"](spark, sf_dir).collect()[0]
    # every (p-q)ln(p/q) term is >= 0, so the floored micro sum is too
    assert r.psi_micro >= 0
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert r.n_period_a + r.n_period_b == n_orders
    assert r.n_buckets > 0


def test_lsh_recall_report_bounds(spark, sf_dir):
    r = QUERIES["dedup_lsh_recall_report"](spark, sf_dir).collect()[0]
    assert 0 <= r.n_hit <= min(r.n_true, r.n_candidates)
    assert 0 <= r.recall_micro <= 1_000_000
    assert 0 <= r.precision_micro <= 1_000_000
    # the fixed 8x2 banding catches essentially all j>=0.5 pairs in
    # this corpus; a banding regression shows up here before the
    # oracle's exact counts even run
    if r.n_true:
        assert r.recall_micro >= 900_000


def test_grouping_sets_margins_reconcile(spark, sf_dir):
    rows = QUERIES["sql_grouping_sets"](spark, sf_dir).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
    # gid 0 = (flag,status) cells; 1 = flag margin; 2 = status margin; 3 = total
    total = by_gid[3][0]
    assert sum(r.n for r in by_gid[0]) == total.n
    assert sum(r.rev_cents for r in by_gid[1]) == total.rev_cents
    assert sum(r.n for r in by_gid[2]) == total.n


def test_skyline_matches_bruteforce_reference(spark):
    """The grid-partitioned skyline must equal the quadratic dominance
    spec on randomized small inputs — exercises bucket boundaries,
    x-ties, y-ties, and co-optimal duplicate points."""
    import os
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from realestate_engine.queries_aggregates import a38_skyline_frontier

    @given(
        st.lists(
            st.tuples(st.integers(min_value=1, max_value=4),  # orders per customer
                      st.integers(min_value=1, max_value=6)),  # unit price
            min_size=1, max_size=25,
        )
    )
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def run(spec):
        d = tempfile.mkdtemp(prefix="sky_")
        rows = []
        for cust, (k, p) in enumerate(spec):
            rows += [(cust, float(p))] * k
        spark.createDataFrame(rows, "o_custkey long, o_totalprice double").write.mode(
            "overwrite"
        ).parquet(os.path.join(d, "orders.parquet"))

        got = {
            (r.total_cents, r.n_orders): r.n_customers
            for r in a38_skyline_frontier(spark, d).collect()
        }

        pts = [(k * p * 100, k) for k, p in spec]
        sky = [
            q for q in pts
            if not any(
                p[0] >= q[0] and p[1] >= q[1] and (p[0] > q[0] or p[1] > q[1])
                for p in pts
            )
        ]
        exp = {}
        for q in sky:
            exp[q] = exp.get(q, 0) + 1
        assert got == exp, (spec, got, exp)

    run()


def test_hits_matches_exact_integer_reference(spark, sf_dir):
    """Replay the max-renormalized integer HITS recurrence in pure
    Python over the same directed edge set; the top-25 authority frame
    must match value-for-value."""
    from realestate_engine.graph import HITS_ROUNDS, HITS_SCALE

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = {
        (r.o_custkey, r.l_suppkey)
        for r in li.join(o, li.l_orderkey == o.o_orderkey).collect()
    }
    hub = {c: HITS_SCALE for c, _ in pairs}
    auth = {}
    for _ in range(HITS_ROUNDS):
        araw = {}
        for c, s in pairs:
            araw[s] = araw.get(s, 0) + hub[c]
        amax = max(araw.values())
        auth = {s: (v * HITS_SCALE) // amax for s, v in araw.items()}
        hraw = {}
        for c, s in pairs:
            hraw[c] = hraw.get(c, 0) + auth[s]
        hmax = max(hraw.values())
        hub = {c: (v * HITS_SCALE) // hmax for c, v in hraw.items()}
    exp = sorted(auth.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
    got = [
        (r.supplier, r.auth_micro)
        for r in QUERIES["graph_hits_authorities"](spark, sf_dir).collect()
    ]
    assert got == exp
