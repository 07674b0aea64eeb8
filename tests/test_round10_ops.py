"""Round-10 operator invariants (beyond the DuckDB oracles): exact
Python replays of the statistics on the same sf0.001 inputs, plus the
structural invariants each operator's docstring promises."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

from realestate_engine.registry import QUERIES, load_all, t

load_all()


def test_kruskal_wallis_matches_exact_python_replay(spark, sf_dir):
    """Replay H from scratch (pooled average ranks, tie correction)
    with Python ints/floats on the same data; the engine's per-group
    FLOOR-micro terms must match term-for-term."""
    row = QUERIES["a54_kruskal_wallis"](spark, sf_dir).collect()[0]
    base = [
        (r.grp, r.cents)
        for r in t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .collect()
    ]
    n_all = len(base)
    counts = Counter(c for _, c in base)
    cum, r2v = 0, {}
    for v in sorted(counts):
        cum += counts[v]
        r2v[v] = 2 * cum - counts[v] + 1
    groups: dict[str, list[int]] = {}
    for g, c in base:
        groups.setdefault(g, []).append(r2v[c])
    h_sum = 0
    for vals in groups.values():
        r2 = sum(vals)
        h_sum += math.floor(
            float(3) * r2 * r2 / len(vals) / n_all / (n_all + 1) * 1000000
        )
    h = max(h_sum - 3 * (n_all + 1) * 1000000, 0)
    tie_t = sum(t_ * t_ * t_ - t_ for t_ in counts.values())
    c_micro = 1000000 - math.floor(
        float(tie_t) * 1000000 / (float(n_all) * n_all * n_all - n_all)
    )
    assert row.n_groups == len(groups)
    assert row.n_all == n_all
    assert row.h_micro == h
    assert row.tie_c_micro == c_micro
    assert row.h_corrected_micro == h * 1000000 // c_micro
    assert row.h_corrected_micro >= row.h_micro  # C <= 1 inflates H


def test_gini_lorenz_matches_exact_python_replay(spark, sf_dir):
    rows = QUERIES["ev30_gini_lorenz"](spark, sf_dir).collect()
    assert [r.decile for r in rows] == list(range(1, 11))
    spend = [
        r.cents
        for r in t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .collect()
    ]
    n, total = len(spend), sum(spend)
    s = sorted(spend)
    # exact rank-identity Gini with average ranks for ties
    counts = Counter(s)
    cum, s2 = 0, 0
    for v in sorted(counts):
        cum += counts[v]
        s2 += v * counts[v] * (2 * cum - counts[v] - n)
    gini = math.floor(float(s2) / (float(n) * total) * 1000000)
    assert all(r.gini_micro == gini for r in rows)
    assert 0 <= gini <= 1000000
    assert all(r.n_customers == n and r.total_cents == total for r in rows)
    # Lorenz: monotone, below equality, exactly 1 at decile 10
    shares = [r.cum_share_micro for r in rows]
    assert shares == sorted(shares)
    assert shares[-1] == 1000000
    assert all(
        sh * 10 <= 1000000 * d + 10  # Lorenz curve sits under equality
        for d, sh in zip(range(1, 11), shares, strict=True)
    ) or gini == 0


def test_mahalanobis_matches_exact_python_replay(spark, sf_dir):
    rows = QUERIES["dq26_mahalanobis_outliers"](spark, sf_dir).collect()
    assert len(rows) == 20
    base = {
        r.l_orderkey: r.y
        for r in t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        .collect()
    }
    pts = [
        (r.o_orderkey, int(round(r.o_totalprice * 100)) // 100, base[r.o_orderkey])
        for r in t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .collect()
        if r.o_orderkey in base
    ]
    n = len(pts)
    sx = sum(x for _, x, _ in pts)
    sy = sum(y for _, _, y in pts)
    sxx = sum(x * x for _, x, _ in pts)
    syy = sum(y * y for _, _, y in pts)
    sxy = sum(x * y for _, x, y in pts)
    a = float(n) * sxx - float(sx) * sx
    b = float(n) * syy - float(sy) * sy
    c = float(n) * sxy - float(sx) * sy
    det = a * b - c * c
    scored = []
    for k, x, y in pts:
        u, w = n * x - sx, n * y - sy
        d2 = math.floor(
            (float(n) - 1) / n * (b * u * u - 2 * c * u * w + a * w * w) / det * 1000000
        )
        scored.append((-d2, k, x, y))
    scored.sort()
    for row, (neg_d2, k, x, y) in zip(rows, scored[:20], strict=False):
        assert (row.o_orderkey, row.price_dollars, row.n_items, row.d2_micro) == (
            k, x, y, -neg_d2,
        )
    # the whitening claim: the top outlier is extreme FOR ITS COUNT,
    # not merely the max price
    assert rows[0].d2_micro > 0


def test_good_turing_matches_exact_python_replay(spark, sf_dir):
    rows = QUERIES["t33_good_turing"](spark, sf_dir).collect()
    assert [r.r for r in rows] == list(range(1, 21))
    docs = t(spark, sf_dir, "documents").select("text").collect()
    words = Counter()
    for d in docs:
        words.update(w for w in d.text.strip().lower().split() if w)
    fof = Counter(words.values())
    n_tokens = sum(words.values())
    n_types = len(words)
    n1, n2 = fof.get(1, 0), fof.get(2, 0)
    for row in rows:
        n_r, n_next = fof.get(row.r, 0), fof.get(row.r + 1, 0)
        assert row.n_r == n_r
        assert row.n_r_next == n_next
        exp = 0 if n_r == 0 else (row.r + 1) * n_next * 1000000 // n_r
        assert row.r_star_micro == exp
        assert row.p0_micro == n1 * 1000000 // n_tokens
        assert row.chao1_micro == n_types * 1000000 + n1 * (n1 - 1) * 1000000 // (
            2 * (n2 + 1)
        )
        assert row.n_tokens == n_tokens and row.n_types == n_types
    # Chao1 never estimates fewer species than observed
    assert rows[0].chao1_micro >= n_types * 1000000


def test_anf_is_monotone_and_exact_at_t0(spark, sf_dir):
    from realestate_engine.graph import trade_edges

    rows = QUERIES["graph_anf_neighborhood"](spark, sf_dir).collect()
    assert [r.t for r in rows] == [0, 1, 2, 3]
    nodes = [
        r.node
        for r in trade_edges(spark, sf_dir)
        .select(F.col("src").alias("node"))
        .distinct()
        .collect()
    ]
    n_sources = sum(1 for v in nodes if v % 16 == 1)
    assert all(r.n_sources == n_sources for r in rows)
    assert rows[0].pairs_reached == n_sources  # N(0) = self only
    pairs = [r.pairs_reached for r in rows]
    assert pairs == sorted(pairs)  # N(t) is monotone
    assert pairs[-1] <= n_sources * len(nodes)  # bounded by sample x nodes
    # python BFS replay of N(1) and N(2) for the sampled sources
    adj: dict[int, set[int]] = {}
    edges = trade_edges(spark, sf_dir).collect()
    for e in edges:
        adj.setdefault(e.src, set()).add(e.dst)
    n1 = n2 = 0
    for v in nodes:
        reach1 = {v} | adj.get(v, set())
        reach2 = set(reach1)
        for u in adj.get(v, set()):
            reach2 |= adj.get(u, set())
        n1 += sum(1 for u in reach1 if u % 16 == 1)
        n2 += sum(1 for u in reach2 if u % 16 == 1)
    assert rows[1].pairs_reached == n1
    assert rows[2].pairs_reached == n2


def test_granger_matches_exact_python_replay(spark, sf_dir):
    import math

    row = QUERIES["ts16_granger_causality"](spark, sf_dir).collect()[0]
    daily = {}
    for r in (
        t(spark, sf_dir, "events")
        .select(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("d"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v"),
        )
        .groupBy("d")
        .agg(F.sum("v").alias("y"), F.count(F.lit(1)).alias("x"))
        .collect()
    ):
        daily[r.d] = (r.y, r.x)
    pairs = [
        (daily[d][0], daily[d - 1][0], daily[d - 1][1])
        for d in daily
        if d - 1 in daily
    ]
    n = len(pairs)
    assert row.n_pairs == n
    my = sum(p[0] for p in pairs) // n
    my1 = sum(p[1] for p in pairs) // n
    mx1 = sum(p[2] for p in pairs) // n
    dev = [(y - my, y1 - my1, x1 - mx1) for y, y1, x1 in pairs]
    nd = float(n)
    a1 = float(sum(d[1] for d in dev))
    a2 = float(sum(d[2] for d in dev))
    m11 = float(sum(d[1] * d[1] for d in dev))
    m12 = float(sum(d[1] * d[2] for d in dev))
    m22 = float(sum(d[2] * d[2] for d in dev))
    c0 = float(sum(d[0] for d in dev))
    c1 = float(sum(d[0] * d[1] for d in dev))
    c2 = float(sum(d[0] * d[2] for d in dev))
    det = nd * (m11 * m22 - m12 * m12) - a1 * (a1 * m22 - m12 * a2) + a2 * (
        a1 * m12 - m11 * a2
    )
    b0 = (
        c0 * (m11 * m22 - m12 * m12)
        - a1 * (c1 * m22 - m12 * c2)
        + a2 * (c1 * m12 - m11 * c2)
    ) / det
    b1 = (
        nd * (c1 * m22 - m12 * c2)
        - c0 * (a1 * m22 - m12 * a2)
        + a2 * (a1 * c2 - c1 * a2)
    ) / det
    b2 = (
        nd * (m11 * c2 - c1 * m12)
        - a1 * (a1 * c2 - c1 * a2)
        + c0 * (a1 * m12 - m11 * a2)
    ) / det
    b1r = (nd * c1 - a1 * c0) / (nd * m11 - a1 * a1)
    b0r = (c0 - b1r * a1) / nd
    rss_u = sum(
        math.floor((dy - (b0 + b1 * dy1 + b2 * dx1)) ** 2 / n)
        for dy, dy1, dx1 in dev
    )
    rss_r = sum(
        math.floor((dy - (b0r + b1r * dy1)) ** 2 / n) for dy, dy1, _ in dev
    )
    assert row.beta_y1_micro == math.floor(b1 * 1000000)
    assert row.beta_x1_micro == math.floor(b2 * 1000000)
    assert row.rssn_u == rss_u and row.rssn_r == rss_r
    assert row.f_stat_micro == math.floor(
        float(max(rss_r - rss_u, 0)) * (n - 3) / rss_u * 1000000
    )
    # adding a regressor can only reduce (normalized) RSS
    assert rss_r >= rss_u - n


def test_xcorr_lag0_is_pearson_and_symmetric_pairs(spark, sf_dir):
    import math

    rows = QUERIES["ts17_cross_correlation"](spark, sf_dir).collect()
    assert [r.lag for r in rows] == list(range(-3, 4))
    by_lag = {r.lag: r for r in rows}
    # pair counts symmetric in |lag|; micro values bounded by +-1e6
    for lg in (1, 2, 3):
        assert by_lag[lg].n_pairs == by_lag[-lg].n_pairs
    for r in rows:
        assert -1000000 <= r.xcf_micro <= 1000000
    # lag-0 replay: exact Pearson on floor-centered daily series
    daily = (
        t(spark, sf_dir, "events")
        .select(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("d"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v"),
        )
        .groupBy("d")
        .agg(F.sum("v").alias("y"), F.count(F.lit(1)).alias("x"))
        .collect()
    )
    n = len(daily)
    my = sum(r.y for r in daily) // n
    mx = sum(r.x for r in daily) // n
    sxy = sum((r.x - mx) * (r.y - my) for r in daily)
    ssx = sum((r.x - mx) ** 2 for r in daily)
    ssy = sum((r.y - my) ** 2 for r in daily)
    exp = math.floor(
        float(sxy) / (math.sqrt(float(ssx)) * math.sqrt(float(ssy))) * 1000000
    )
    assert by_lag[0].xcf_micro == exp
    assert by_lag[0].n_pairs == n


def test_max_drawdown_matches_exact_python_replay(spark, sf_dir):
    row = QUERIES["ts18_max_drawdown"](spark, sf_dir).collect()[0]
    daily = sorted(
        (r.d, r.y)
        for r in t(spark, sf_dir, "events")
        .select(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("d"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v"),
        )
        .groupBy("d")
        .agg(F.sum("v").alias("y"))
        .collect()
    )
    peak, best = None, None
    for d, y in daily:
        peak = y if peak is None else max(peak, y)
        cand = (-(peak - y), d, y, peak)
        if best is None or cand < best:
            best = cand
    assert row.n_days == len(daily)
    assert row.max_drawdown_milli == -best[0]
    assert (row.trough_day, row.trough_milli, row.peak_before_milli) == best[1:]
    assert row.max_drawdown_milli >= 0
    assert row.peak_before_milli - row.trough_milli == row.max_drawdown_milli


def test_eb_shrinkage_contracts_toward_global_mean(spark, sf_dir):
    rows = QUERIES["ev31_empirical_bayes_shrinkage"](spark, sf_dir).collect()
    assert len(rows) == 25
    m = rows[0].m_micro
    assert all(r.m_micro == m and r.k_micro == rows[0].k_micro for r in rows)
    for r in rows:
        # contraction: shrunk lies between the raw rate and m
        lo, hi = min(r.rate_micro, m), max(r.rate_micro, m)
        assert lo - 1 <= r.shrunk_micro <= hi + 1, r
    # small segments move MORE (relative shrink toward m grows as n falls)
    movers = sorted(
        (abs(r.rate_micro - r.shrunk_micro), r.n_orders)
        for r in rows
        if abs(r.rate_micro - m) > 10000
    )
    if len(movers) >= 2:
        assert rows[0].k_micro >= 0


def test_greedy_matching_is_a_valid_matching(spark, sf_dir):
    rows = QUERIES["graph_greedy_matching"](spark, sf_dir).collect()
    assert [r.round for r in rows] == [1, 2, 3, 4]
    assert all(r.max_node_multiplicity == 1 for r in rows)  # a MATCHING
    assert rows[0].total_matched_edges == sum(r.n_selected for r in rows)
    alive = [r.n_alive_after for r in rows]
    assert alive == sorted(alive, reverse=True)  # alive set shrinks
    assert all(r.n_selected >= 1 for r in rows[:1])  # round 1 matches something


def test_textrank_matches_exact_python_replay(spark, sf_dir):
    """Full integer replay: vocab, symmetric co-occurrence graph, 3
    damped integer power rounds — term-for-term."""
    rows = QUERIES["t34_textrank_keywords"](spark, sf_dir).collect()
    assert len(rows) == 20
    docs = t(spark, sf_dir, "documents").select("text").collect()
    uni = Counter()
    big = Counter()
    for d in docs:
        ws = [w for w in d.text.strip().lower().split() if w]
        uni.update(ws)
        for a, b in zip(ws, ws[1:], strict=False):
            if a != b:
                big[(a, b)] += 1
    top = sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[:200]
    vocab = {w for w, _ in top}
    edges = Counter()
    for (a, b), c in big.items():
        if a in vocab and b in vocab:
            edges[(a, b)] += c
            edges[(b, a)] += c
    outw = Counter()
    for (s, _), wgt in edges.items():
        outw[s] += wgt
    pmat = {(s, d_): wgt * 1000000 // outw[s] for (s, d_), wgt in edges.items()}
    pi = {w: 10**9 for w in vocab}
    for _ in range(3):
        nxt = {w: 150000000 for w in vocab}
        for (s, d_), p in pmat.items():
            nxt[d_] += pi[s] * p // 1000000 * 85 // 100
        pi = nxt
    expect = sorted(((-r, w) for w, r in pi.items()))[:20]
    got = [(-r.rank_nano, r.keyword) for r in rows]
    assert got == expect
    freqs = dict(top)
    assert all(r.n_occurrences == freqs[r.keyword] for r in rows)


def test_pacf_matches_exact_python_replay(spark, sf_dir):
    rows = QUERIES["ts19_pacf_durbin_levinson"](spark, sf_dir).collect()
    assert [r.lag for r in rows] == [1, 2, 3, 4]
    by = {r.lag: r for r in rows}
    # phi(1) == r(1) by construction; everything bounded
    assert by[1].pacf_micro == by[1].acf_micro
    for r in rows:
        assert -1100000 <= r.pacf_micro <= 1100000
    # fixed-point DL replay from the ACF micros
    r1, r2, r3, r4 = (by[k].acf_micro for k in (1, 2, 3, 4))
    p11 = r1
    den2 = 1000000 - float(p11) * r1 / 1000000
    p22 = int(math.floor((r2 - float(p11) * r1 / 1000000) / den2 * 1000000))
    p21 = int(math.floor(p11 - float(p22) * p11 / 1000000))
    den3 = 1000000 - float(p21) * r1 / 1000000 - float(p22) * r2 / 1000000
    p33 = int(
        math.floor(
            (r3 - float(p21) * r2 / 1000000 - float(p22) * r1 / 1000000)
            / den3
            * 1000000
        )
    )
    p31 = int(math.floor(p21 - float(p33) * p22 / 1000000))
    p32 = int(math.floor(p22 - float(p33) * p21 / 1000000))
    den4 = (
        1000000
        - float(p31) * r1 / 1000000
        - float(p32) * r2 / 1000000
        - float(p33) * r3 / 1000000
    )
    p44 = int(
        math.floor(
            (
                r4
                - float(p31) * r3 / 1000000
                - float(p32) * r2 / 1000000
                - float(p33) * r1 / 1000000
            )
            / den4
            * 1000000
        )
    )
    assert (by[1].pacf_micro, by[2].pacf_micro, by[3].pacf_micro, by[4].pacf_micro) == (
        p11, p22, p33, p44,
    )


def test_haar_energy_matches_exact_python_replay(spark, sf_dir):
    rows = QUERIES["ts20_haar_energy"](spark, sf_dir).collect()
    assert [r.level for r in rows] == [1, 2, 3, 4]
    assert [r.n_pairs for r in rows] == [8, 4, 2, 1]
    daily = sorted(
        (r.d, r.y)
        for r in t(spark, sf_dir, "events")
        .select(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("d"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v"),
        )
        .groupBy("d")
        .agg(F.expr("sum(v) div 100000").alias("y"))
        .collect()
    )[:16]
    xs = [y for _, y in daily]
    energies = []
    for _ in range(4):
        ds = [xs[2 * i] - xs[2 * i + 1] for i in range(len(xs) // 2)]
        xs = [xs[2 * i] + xs[2 * i + 1] for i in range(len(xs) // 2)]
        energies.append(sum(d * d for d in ds))
    tot = sum(energies)
    for r, e in zip(rows, energies, strict=True):
        assert r.energy == e
        assert r.share_micro == (0 if tot == 0 else e * 1000000 // tot)
    # Parseval sanity: total detail energy <= total (unnormalized) input energy x16
    assert tot <= 16 * sum(y * y for _, y in daily)


def test_rater_agreement_matches_exact_python_replay(spark, sf_dir):
    row = QUERIES["dq27_rater_agreement"](spark, sf_dir).collect()[0]
    docs = t(spark, sf_dir, "documents").select("text").collect()
    votes = []
    for d in docs:
        ws = [w for w in d.text.strip().lower().split() if w]
        ra = 1 if len(ws) >= 50 else 0
        rb = 1 if len(set(ws)) * 5 >= len(ws) * 3 else 0
        rc = 1 if all(len(w) <= 15 for w in ws) else 0
        votes.append((ra, rb, rc))
    n = len(votes)
    pa = sum(v[0] for v in votes)
    pb = sum(v[1] for v in votes)
    pc = sum(v[2] for v in votes)
    cp = sum(sum(v) for v in votes)
    cf = 3 * n - cp
    s1 = sum(sum(v) * (sum(v) - 1) + (3 - sum(v)) * (2 - sum(v)) for v in votes)
    assert (row.n_docs, row.pass_a, row.pass_b, row.pass_c) == (n, pa, pb, pc)
    pe = (float(cp) * cp + float(cf) * cf) / 9 / n / n
    fle = math.floor((float(s1) / 6 / n - pe) / (1 - pe) * 1000000)
    assert row.fleiss_kappa_micro == fle
    for a, b, idx_a, idx_b, got in (
        (pa, pb, 0, 1, row.kappa_ab_micro),
        (pa, pc, 0, 2, row.kappa_ac_micro),
        (pb, pc, 1, 2, row.kappa_bc_micro),
    ):
        agree = sum(1 for v in votes if v[idx_a] == v[idx_b])
        pe2 = (float(a) * b + (float(n) - a) * (n - b)) / n / n
        assert got == math.floor((float(agree) / n - pe2) / (1 - pe2) * 1000000)
    # kappas live in [-1, 1] (micro)
    for k in (row.fleiss_kappa_micro, row.kappa_ab_micro, row.kappa_ac_micro, row.kappa_bc_micro):
        assert -1000000 <= k <= 1000000


def test_cox_round1_score_is_logrank_numerator(spark, sf_dir):
    """Classic identity: with a binary covariate, the Cox score at
    beta=0 equals the log-rank O1 - E1 (up to the shared micro floor
    convention) — both ops run on the same cohort, so their frames
    must agree."""
    cox = QUERIES["ev32_cox_proportional_hazards"](spark, sf_dir).collect()[0]
    lr = QUERIES["ev27_logrank_test"](spark, sf_dir).collect()[0]
    assert (cox.n1_subjects, cox.n2_subjects) == (lr.n1_subjects, lr.n2_subjects)
    assert cox.events_total == lr.events_total
    # beta1 = U(0)/I(0); U(0) in micro is o1*1e6 - e1_micro up to the
    # per-term floors (each term floors once in cox, once in logrank:
    # allow one micro per event time, bounded by events_total)
    # exact replay instead: recompute U(0), I(0) from the ledger
    li = t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.max(F.col("l_shipdate").cast("date")).alias("done_date")
    )
    o = t(spark, sf_dir, "orders")
    subj = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.datediff("done_date", F.col("o_orderdate").cast("date")).alias("dur"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("ev"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("grp"),
    ).collect()
    from collections import defaultdict

    per = defaultdict(lambda: [0, 0, 0, 0])  # n, n1, d, d1
    for r in subj:
        p = per[r.dur]
        p[0] += 1
        p[1] += r.grp
        p[2] += r.ev
        p[3] += r.ev * r.grp
    durs = sorted(per)
    u0 = i0 = 0
    beta1 = None
    for pass_no in range(2):
        w = 1.0 if pass_no == 0 else math.exp(beta1 / 1000000)
        u = i = 0
        for d_ in durs:
            da, d1 = per[d_][2], per[d_][3]
            if da == 0:
                continue
            n1r = sum(per[x][1] for x in durs if x >= d_)
            n0r = sum(per[x][0] - per[x][1] for x in durs if x >= d_)
            u += math.floor((d1 - float(da) * (n1r * w) / (n1r * w + n0r)) * 1e6)
            i += math.floor(
                float(da) * (n1r * w) * n0r / ((n1r * w + n0r) ** 2) * 1e6
            )
        if pass_no == 0:
            u0, i0 = u, i
            beta1 = math.floor(float(u) / i * 1000000)
        else:
            beta2 = beta1 + math.floor(float(u) / i * 1000000)
            assert cox.u2_micro == u and cox.i2_micro == i
            assert cox.beta2_micro == beta2
    assert cox.beta1_micro == beta1
    # Newton converges: round-2 score magnitude < round-1 score magnitude
    assert abs(cox.u2_micro) < abs(u0)
    assert cox.hazard_ratio_micro == math.floor(
        math.exp(cox.beta2_micro / 1000000) * 1e6
    )


def test_dawid_skene_matches_exact_python_replay(spark, sf_dir):
    rows = QUERIES["m62_dawid_skene"](spark, sf_dir).collect()
    docs = t(spark, sf_dir, "documents").select("text").collect()
    pats = Counter()
    for d in docs:
        ws = [w for w in d.text.strip().lower().split() if w]
        ra = 1 if len(ws) >= 50 else 0
        rb = 1 if len(set(ws)) * 5 >= len(ws) * 3 else 0
        rc = 1 if all(len(w) <= 15 for w in ws) else 0
        pats[(ra, rb, rc)] += 1
    state = {k: (c, (k[0] + k[1] + k[2]) * 1000000 // 3) for k, c in pats.items()}
    params = None
    for _ in range(2):
        spc = sum(c * p for c, p in state.values())
        snc = sum(c * (1000000 - p) for c, p in state.values())
        n = sum(c for c, _ in state.values())
        prior = spc // n
        se, sp = [], []
        for j in range(3):
            s1 = sum(c * p * k[j] for k, (c, p) in state.items())
            s0 = sum(c * (1000000 - p) * (1 - k[j]) for k, (c, p) in state.items())
            se.append(500000 if spc == 0 else s1 * 1000000 // spc)
            sp.append(500000 if snc == 0 else s0 * 1000000 // snc)
        params = (prior, se, sp)
        nxt = {}
        for k, (c, _) in state.items():
            l1 = prior
            l0 = 1000000 - prior
            for j in range(3):
                tj = se[j] if k[j] == 1 else 1000000 - se[j]
                uj = 1000000 - sp[j] if k[j] == 1 else sp[j]
                l1 = l1 * tj // 1000000
                l0 = l0 * uj // 1000000
            nxt[k] = (c, prior if l1 + l0 == 0 else l1 * 1000000 // (l1 + l0))
        state = nxt
    by_votes = {(r.vote_a, r.vote_b, r.vote_c): r for r in rows}
    assert set(by_votes) == set(state)
    prior, se, sp = params
    for k, (c, p) in state.items():
        r = by_votes[k]
        assert (r.n_docs, r.posterior_micro) == (c, p)
        assert r.prior_micro == prior
        assert (r.se_a_micro, r.se_b_micro, r.se_c_micro) == tuple(se)
        assert (r.sp_a_micro, r.sp_b_micro, r.sp_c_micro) == tuple(sp)
    # the fused posterior is NOT monotone in raw vote count (that is
    # the point of DS vs majority vote) — but it IS monotone in each
    # INFORMATIVE rater's own vote: flipping rater j from 0 to 1
    # multiplies L1 by se_j/(1-se_j) and L0 by (1-sp_j)/sp_j, which
    # raises the posterior whenever se_j + sp_j > 1 (rater better
    # than chance). Allow 2 micro of fixed-point slack.
    for j in range(3):
        if se[j] + sp[j] <= 1000000:
            continue
        for k, (_, p) in state.items():
            if k[j] == 1:
                continue
            k_up = tuple(1 if i == j else k[i] for i in range(3))
            if k_up in state:
                assert state[k_up][1] >= p - 2, (j, k)


def test_average_precision_matches_exact_python_replay(spark, sf_dir):
    row = QUERIES["m63_average_precision"](spark, sf_dir).collect()[0]
    base = [
        (int(round(r.o_totalprice * 100)), 1 if r.o_orderpriority in ("1-URGENT", "2-HIGH") else 0)
        for r in t(spark, sf_dir, "orders")
        .select("o_totalprice", "o_orderpriority")
        .collect()
    ]
    census: dict[int, list[int]] = {}
    for s, y in base:
        c = census.setdefault(s, [0, 0])
        c[0] += 1
        c[1] += y
    n = len(base)
    n_pos = sum(y for _, y in base)
    s_sum = 0
    n0 = t0 = 0
    for score in sorted(census, reverse=True):
        b, p = census[score]
        if p > 0:
            s_sum += p * (t0 + p) * 1000000 // (n0 + b)
        n0 += b
        t0 += p
    assert (row.n, row.n_pos) == (n, n_pos)
    assert row.ap_micro == s_sum // n_pos
    assert row.prevalence_micro == n_pos * 1000000 // n
    # AP of any ranker is bounded by [~prevalence-ish floor, 1]
    assert 0 < row.ap_micro <= 1000000
