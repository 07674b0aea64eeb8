"""Round-9 operator invariants (beyond the DuckDB oracles)."""

from __future__ import annotations

import pytest

from realestate_engine.registry import QUERIES, load_all

load_all()


def test_flac_audit_plants_are_independent_and_exact(spark, sf_dir):
    rows = QUERIES["mm_flac_crc_audit"](spark, sf_dir).collect()
    assert len(rows) == 70
    for r in rows:
        d = r.doc_id
        assert r.n_frames == 2 + d % 4
        assert r.n_samples == (1 + d % 2) * 64 * (2 + d % 4)
        assert r.n_crc8_bad == (1 if d % 11 == 4 else 0), d
        # the CRC-16 covers the stored CRC-8 byte, so a CRC-8 plant
        # also breaks exactly that frame's CRC-16
        assert r.n_crc16_bad == (d % 11 == 4) + (d % 7 == 2), d
        assert r.md5_ok == (d % 5 != 1), d


def test_flac_audit_walk_is_structural_not_checksum_gated():
    """A checksum flip must not derail the walk (unlike decode_flac,
    which raises) — and a residual-byte flip is a structural error."""
    from realestate_engine.flac import audit_flac_frames, decode_flac, encode_flac

    samples = [((i * 31) % 128) - 64 for i in range(3 * 64)]
    blob = encode_flac(8000, 1, samples, blocksize=64)
    clean = audit_flac_frames(blob)
    assert len(clean["frames"]) == 3 and clean["md5_ok"]
    assert all(f["crc8_ok"] and f["crc16_ok"] for f in clean["frames"])

    flipped = bytearray(blob)
    flipped[-1] ^= 0xFF  # last frame's stored CRC-16 low byte
    audited = audit_flac_frames(bytes(flipped))
    assert [f["crc16_ok"] for f in audited["frames"]] == [True, True, False]
    assert audited["md5_ok"]  # samples untouched
    with pytest.raises(ValueError):
        decode_flac(bytes(flipped))  # the strict decoder still refuses


def test_mis_is_independent_and_maximal(spark, sf_dir):
    rows = QUERIES["graph_mis_luby"](spark, sf_dir).collect()
    assert len(rows) == 4
    assert all(r.is_independent for r in rows)
    # the per-round selections account for the whole MIS
    assert sum(r.n_selected for r in rows) == rows[0].mis_size
    # maximality evidence within the fixed rounds: nothing undecided left
    assert rows[-1].n_undecided_after == 0


def test_heaps_curve_is_monotone_and_sublinear(spark, sf_dir):
    rows = QUERIES["t32_heaps_law"](spark, sf_dir).collect()
    assert len(rows) == 10
    sh = [r.n_shingles for r in rows]
    types = [r.n_types for r in rows]
    assert sh == sorted(sh) and types == sorted(types)
    assert all(v <= t_ for v, t_ in zip(types, sh))
    # sub-linear growth: the fitted exponent is in (0, 1)
    beta = rows[0].heaps_beta_micro
    assert all(r.heaps_beta_micro == beta for r in rows)
    assert 0 < beta < 1_000_000
    # type-token ratio declines as the corpus grows (Zipf tail)
    ttrs = [r.ttr_micro for r in rows]
    assert ttrs[0] >= ttrs[-1]


def test_mips_augmented_cosine_is_rank_equivalent(spark, sf_dir):
    rows = QUERIES["sim_mips_topk"](spark, sf_dir).collect()
    assert len(rows) == 20
    ip_order = [r.vec_id for r in sorted(rows, key=lambda r: (-r.ip, r.vec_id))]
    aug_order = [
        r.vec_id for r in sorted(rows, key=lambda r: (-r.aug_cosine, r.vec_id))
    ]
    # the shared positive divisor preserves order (the MIPS->cosine proof)
    assert ip_order == aug_order
    # augmentation mass is non-negative (M^2 is the max corpus norm^2)
    assert all(r.aug_dim_sq >= -1e-4 for r in rows)


def test_bradley_terry_strengths_track_win_rates(spark, sf_dir):
    rows = QUERIES["m55_bradley_terry"](spark, sf_dir).collect()
    assert len(rows) == 5
    # gauge pinned: mean strength == 1.0 (within integer-floor slack)
    mean = sum(r.strength_micro for r in rows) / 5
    assert abs(mean - 1_000_000) <= 5
    # strengths and raw win rates agree on the extremes
    by_strength = [r.event_type for r in rows]  # already ordered desc
    by_winrate = [
        r.event_type
        for r in sorted(rows, key=lambda r: (-(r.wins / r.games), r.event_type))
    ]
    assert by_strength[0] == by_winrate[0]
    assert by_strength[-1] == by_winrate[-1]
    assert all(0 < r.wins < r.games for r in rows)


def test_fpgrowth_oracle_truncation_is_provably_complete(spark, sf_dir):
    """The m19 oracle enumerates itemsets to size 3; by anti-
    monotonicity a frequent 4-itemset requires a frequent 3-itemset,
    so this pin (no 3-itemset reaches minSupport — in fact none is
    even emitted in the top-100) proves the truncation loses nothing."""
    rows = QUERIES["m19_fpgrowth_baskets"](spark, sf_dir).collect()
    assert rows
    assert max(r.itemset.count(",") + 1 for r in rows) <= 2


def test_fairness_audit_accounting_is_consistent(spark, sf_dir):
    rows = QUERIES["m56_fairness_audit"](spark, sf_dir).collect()
    assert len(rows) == 5  # the five market segments
    n_total = sum(r.n for r in rows)
    # signed parity gaps against the global rate must straddle zero
    # (n-weighted mean of the segment rates IS the global rate)
    weighted = sum(r.n * r.parity_gap_micro for r in rows)
    assert abs(weighted) <= n_total  # integer-floor slack only
    for r in rows:
        assert 0 <= r.sel_rate_micro <= 1_000_000
        assert 0 <= r.tpr_micro <= 1_000_000
        assert 0 <= r.fpr_micro <= 1_000_000
