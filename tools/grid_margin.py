"""Grid-margin report for the three floor-grid ML oracles (ADVICE r11).

m17 (cent floor), m21 (micro floor), and m24 (1e-4 floor) publish
FLOOR(x * 10^k) of values MLlib computes in environment-dependent
double arithmetic. The checks are safe only while every published
estimate sits comfortably away from its nearest grid line — a
different BLAS/JDK could drift an estimate ~1e-9 grid units, so a
margin below MARGIN_MIN means the certification is fragile and must
fail loudly instead of intermittently.

Also asserts the m24 AFT Newton's converged rho is strictly above its
0.05 domain clamp: an active clamp would mean the oracle publishes a
constrained point that is not the MLE (ADVICE r11 #2).

Usage: python tools/grid_margin.py [--sf /root/testdata/sf0.01]
Exit 1 if any margin < MARGIN_MIN (in grid units) or the clamp is hot.
"""

from __future__ import annotations

import argparse
import sys

sys.path.insert(0, ".")

from tools.check_oracle import oracle_connection  # noqa: E402

# Minimum acceptable distance (in grid units) between a published
# estimate and its nearest grid line, PER FAMILY: each oracle's
# cross-environment drift is bounded by its fit's convergence
# tolerance (the MLE is data-determined; BLAS/JDK only perturb the
# path, and the stopping rule bounds the endpoint), and we require a
# 10x safety factor over that bound. m17: MLlib's double block mean
# has abs error ~1e-9 cents -> floor 1e-8 cent-units. m21: IRLS
# tol=1e-12 in estimate units = 1e-6 micro-grid units -> floor 1e-5.
# m24: L-BFGS converged precision ~5e-8 estimate units = 5e-4
# 1e-4-grid units -> floor 5e-3. (A flat 1e-3 would false-flag m21's
# sf0.1 intercept at 6.5e-4 grid units — 650x its actual drift bound,
# i.e. safe — while being far too lax for m24, whose tightest shipped
# margin is m24[scale] ~1e-2 at sf0.001, 20x its drift bound.)
MARGIN_MIN = {"m17": 1e-8, "m21": 1e-5, "m24": 5e-3}

# rho converging onto the 0.05 clamp means the published AFT point is
# constrained, not the MLE; require strict clearance.
RHO_FLOOR = 0.05

def _margin(scaled: float) -> float:
    frac = scaled % 1.0
    return min(frac, 1.0 - frac)


def m17_margins(con) -> list[tuple[str, float]]:
    """Exact fractional cents of each isotonic block mean, from the
    oracle's own HUGEINT key (skey = FLOOR(mean_cents * 1e15), so
    (skey % 1e15)/1e15 reproduces frac(mean_cents) to 1e-15)."""
    from realestate_engine.registry import ORACLES, load_all

    load_all()
    sql = ORACLES["m17_isotonic_calibration"]
    head, _ = sql.rsplit("SELECT CAST(q AS BIGINT)", 1)
    probe = head + (
        "SELECT q, CAST(iso_skey % 1000000000000000 AS DOUBLE) / 1e15 AS frac "
        "FROM iso"
    )
    return [
        (f"m17[q={q}]", min(frac, 1.0 - frac))
        for q, frac in con.execute(probe).fetchall()
    ]


def m21_margins(con) -> list[tuple[str, float]]:
    from realestate_engine.queries_ml import _M21_ORACLE, _M21_ROUNDS  # noqa: F401

    head, _ = _M21_ORACLE.rsplit("SELECT u.term", 1)
    probe = head + """
    SELECT term, scaled FROM (
        SELECT 'intercept' AS term, intercept * 1000000 AS scaled FROM fit
        UNION ALL SELECT 'f_price', f_price * 1000000 FROM fit
        UNION ALL SELECT 'f_month', f_month * 1000000 FROM fit
        UNION ALL SELECT 'deviance', deviance * 1000000 FROM dev
    )"""
    return [
        (f"m21[{term}]", _margin(scaled))
        for term, scaled in con.execute(probe).fetchall()
    ]


def m24_margins(con) -> tuple[list[tuple[str, float]], float]:
    """(margins, converged rho)."""
    from realestate_engine.queries_ml import _AFT_ORACLE, _AFT_ROUNDS

    head, _ = _AFT_ORACLE.rsplit("SELECT term,", 1)
    p = f"p{_AFT_ROUNDS}"
    probe = head + f"""
    SELECT term, scaled, rho FROM (
        SELECT 'intercept' AS term, (t0 / rho) * 10000 AS scaled, rho FROM {p}
        UNION ALL SELECT 'coef_n_events', (t1 / rho) * 10000, rho FROM {p}
        UNION ALL SELECT 'coef_avg_value', (t2 / rho) * 10000, rho FROM {p}
        UNION ALL SELECT 'scale', (1.0 / rho) * 10000, rho FROM {p}
    )"""
    rows = con.execute(probe).fetchall()
    margins = [(f"m24[{term}]", _margin(scaled)) for term, scaled, _ in rows]
    return margins, float(rows[0][2])


def run(sf_dir: str) -> int:
    con = oracle_connection(sf_dir)
    margins = m17_margins(con) + m21_margins(con)
    aft, rho = m24_margins(con)
    margins += aft

    worst = sorted(margins, key=lambda kv: kv[1])[:8]
    print(f"grid margins at {sf_dir} (grid units; per-family floors {MARGIN_MIN}):")
    for name, m in worst:
        print(f"  {name}: {m:.3e}")
    print(f"m24 converged rho = {rho:.6f} (clamp floor {RHO_FLOOR})")

    rc = 0
    bad = [(n, m) for n, m in margins if m < MARGIN_MIN[n[:3]]]
    if bad:
        print(f"FAIL: {len(bad)} estimate(s) within their family floor of a grid line: {bad}")
        rc = 1
    if rho <= RHO_FLOOR + 1e-6:
        print(f"FAIL: AFT rho {rho} is on the 0.05 clamp — published point is not the MLE")
        rc = 1
    if rc == 0:
        print("OK: all margins clear, rho strictly above clamp")
    return rc


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()
    sys.exit(run(args.sf))
