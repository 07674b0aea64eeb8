"""Registry-wide oracle type hygiene.

The driver's correctness gate hashes values WITH their physical dtype,
so an oracle whose final SELECT leaks a DuckDB-widened type diverges
from the engine even when every value matches.  Round 5's single red
row (`a38_skyline_frontier`) was exactly this: DuckDB silently widens
SUM(BIGINT) to HUGEINT (int128 -> pandas float64) while Spark emits
BIGINT.  These tests run every registered oracle against DuckDB and
assert, at the Arrow layer (where HUGEINT is still visible as
decimal128 before pandas flattens it to float64), that no oracle emits
a type outside the family Spark can produce.

Engine-vs-oracle per-column signature equality is enforced separately
by tools/check_oracle.py's strict compare (dtype_sig) — this test is
the cheap, Spark-free half that pins the oracle side alone.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pytest

from realestate_engine.registry import ORACLES, load_all
from tools.check_oracle import oracle_connection

SF_DIR = "/root/testdata/sf0.001"


def _family_ok(t: pa.DataType) -> bool:
    """Types Spark's toPandas path can also produce.

    Notably ABSENT: decimal128 (DuckDB HUGEINT / un-cast SUM),
    int8/int16/uint* (un-cast small-int arithmetic) — those can never
    match a Spark output column under the driver's type-strict hash.
    int32 IS allowed: Spark emits int32 for parquet IntegerType, and
    42 driver-green oracles legitimately return it on both sides.
    """
    return bool(
        pa.types.is_int32(t)
        or pa.types.is_int64(t)
        or pa.types.is_float32(t)
        or pa.types.is_float64(t)
        or pa.types.is_boolean(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_timestamp(t)
        or pa.types.is_date(t)
        or pa.types.is_null(t)
        or pa.types.is_list(t)
        or pa.types.is_large_list(t)
    )


@pytest.fixture(scope="module")
def con():
    c = oracle_connection(SF_DIR)
    load_all()
    return c


def test_every_oracle_emits_only_spark_producible_types(con):
    bad: dict[str, list[str]] = {}
    for name, sql in sorted(ORACLES.items()):
        tbl = con.execute(sql).arrow()
        viol = [f"{f.name}:{f.type}" for f in tbl.schema if not _family_ok(f.type)]
        if viol:
            bad[name] = viol
    assert not bad, f"oracles leaking non-Spark types (wrap in CAST): {bad}"


def test_r8_latent_width_and_family_pins(con):
    """VERDICT r8 #2: the two columns whose oracle dtype drifted from
    the Spark output family/width in the r8 local sweep, now cast at
    the query tail on both sides — pin the oracle side exactly.

    - ev24_power_analysis.delta_micro: the VALUES grid is int32 in
      DuckDB while Spark's createDataFrame emits int64 — the oracle
      now CASTs it to BIGINT.
    - ev25_cohort_retention.cohort_week: DATE fetches as date32 /
      datetime64 while Spark DateType reaches pandas as object — both
      sides now emit TIMESTAMP (the f10_monthly_revenue idiom).
    """
    t24 = con.execute(ORACLES["ev24_power_analysis"]).arrow()
    assert pa.types.is_int64(t24.schema.field("delta_micro").type)
    t25 = con.execute(ORACLES["ev25_cohort_retention"]).arrow()
    assert pa.types.is_timestamp(t25.schema.field("cohort_week").type)


def test_hugeint_leak_is_caught():
    """Pin the detector itself: an un-cast SUM(BIGINT) must be flagged."""
    c = duckdb.connect()
    tbl = c.execute("SELECT SUM(CAST(1 AS BIGINT)) AS x FROM range(3)").arrow()
    assert not _family_ok(tbl.schema.field("x").type)  # decimal128
    tbl2 = c.execute(
        "SELECT CAST(SUM(CAST(1 AS BIGINT)) AS BIGINT) AS x FROM range(3)"
    ).arrow()
    assert _family_ok(tbl2.schema.field("x").type)


def test_strict_compare_flags_int_float_divergence():
    """tools/check_oracle.py must fail int64-vs-float64 columns locally
    (the class that passed locally but failed the driver in round 5)."""
    import pandas as pd

    import sys
    sys.path.insert(0, ".")
    from tools.check_oracle import compare

    sdf = pd.DataFrame({"x": pd.Series([1, 2], dtype="int64")})
    odf = pd.DataFrame({"x": pd.Series([1.0, 2.0], dtype="float64")})
    probs = compare(sdf, odf)
    assert probs and "dtype" in probs[0]
    # and equal dtypes with equal values still pass
    assert compare(sdf, sdf.copy()) == []
    # int-width drift is driver-TOLERATED (m29 int32-vs-int64 green in
    # CORRECTNESS_r05) — warn, don't fail
    odf32 = pd.DataFrame({"x": pd.Series([1, 2], dtype="int32")})
    assert compare(sdf, odf32) == []
    # Spark DateType objects vs DuckDB datetime64 likewise (p1 green
    # in r02/r03)
    import datetime as dt

    sdd = pd.DataFrame({"d": pd.Series([dt.date(2020, 1, 1)], dtype="object")})
    odd = pd.DataFrame({"d": pd.Series(pd.to_datetime(["2020-01-01"]))})
    assert compare(sdd, odd) == []
    # but string-vs-datetime is a real family break
    sstr = pd.DataFrame({"d": pd.Series(["2020-01-01"], dtype="object")})
    assert compare(sstr, odd)
