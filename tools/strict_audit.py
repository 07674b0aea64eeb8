"""Strict driver-fidelity audit of every registered query vs its oracle.

The driver's compare is stricter than tools/check_oracle.py: it sorts
the pandas frames by every column (crashes on list cells) and hashes
exact values (so an int64 vs float64 dtype difference — e.g. DuckDB
HUGEINT from an un-cast SUM — breaks the hash even when values are
numerically equal). This audit flags:

  1. complex (array/map/struct) columns in the Spark output;
  2. pandas dtype-kind mismatches between Spark and DuckDB results;
  3. bitwise value differences after canonical sort (floats compared
     with ==, not isclose — our rounding discipline is supposed to
     make them identical across engines).

Usage: python tools/strict_audit.py [--sf DIR] [--skip-rowsonly] [name ...]
"""

from __future__ import annotations

import argparse
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, ".")

from tools.check_oracle import oracle_connection, oracle_sql  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort").reset_index(drop=True)
    return df


def dtype_kind(s: pd.Series) -> str:
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "ts"
    return "obj"


def audit_one(name, fn, sql, spark, con, sf) -> list[str]:
    problems: list[str] = []
    sdf_spark = fn(spark, sf)
    for f in sdf_spark.schema.fields:
        tn = f.dataType.typeName()
        if tn in ("array", "map", "struct"):
            problems.append(f"COMPLEX spark col {f.name}: {tn} (driver compare crashes on list cells)")
    sdf = sdf_spark.toPandas()
    if sql is None:
        if problems:
            return problems  # complex cols crash even the rows-only path
        return []
    odf = con.execute(sql).df()
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
        return problems
    import datetime

    for c in sorted(sdf.columns):
        ks, ko = dtype_kind(sdf[c]), dtype_kind(odf[c])
        if ks != ko:
            # Spark DateType arrives as object(datetime.date) while
            # DuckDB DATE arrives as datetime64 — the driver's compare
            # canonicalizes both (verified: p1_cast_normalization
            # hash-matched in CORRECTNESS_r02 with this exact shape).
            first = sdf[c].dropna()
            if (
                ks == "obj"
                and ko == "ts"
                and len(first)
                and isinstance(first.iloc[0], datetime.date)
            ):
                sdf[c] = pd.to_datetime(sdf[c])
                continue
            problems.append(f"DTYPE col {c}: spark={sdf[c].dtype}({ks}) oracle={odf[c].dtype}({ko})")
    if any(p.startswith(("COMPLEX", "DTYPE")) for p in problems):
        return problems
    try:
        a, b = canon(sdf), canon(odf)
    except TypeError as e:
        problems.append(f"CANON-CRASH: {e}")
        return problems
    for c in a.columns:
        av, bv = a[c], b[c]
        if dtype_kind(av) in ("float", "int"):
            eq = (av.values == bv.values) | (pd.isna(av).values & pd.isna(bv).values)
        else:
            eq = (av == bv) | (pd.isna(av) & pd.isna(bv))
            eq = np.asarray(eq)
        if not bool(np.all(eq)):
            bad = int(np.sum(~eq))
            i = int(np.argmax(~eq))
            problems.append(f"VALUE col {c}: {bad} diffs, first row {i}: spark={av.iloc[i]!r} oracle={bv.iloc[i]!r}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--skip-rowsonly", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from realestate_engine.registry import QUERIES, load_all
    from realestate_engine.session import create_session

    load_all()
    spark = create_session()
    con = oracle_connection(args.sf)

    names = args.names or list(QUERIES)
    n_bad = 0
    t0 = time.time()
    for name in names:
        sql = oracle_sql(name, args.sf)
        if sql is None and args.skip_rowsonly:
            continue
        try:
            problems = audit_one(name, QUERIES[name], sql, spark, con, args.sf)
        except Exception as e:  # noqa: BLE001
            problems = [f"EXEC-ERROR: {type(e).__name__}: {str(e).splitlines()[0][:200]}"]
        tag = "ok" if not problems else "FAIL"
        if problems:
            n_bad += 1
            print(f"[{tag}] {name}")
            for p in problems:
                print(f"       {p}")
        else:
            print(f"[{tag}] {name}")
    print(f"-- {len(names)} audited, {n_bad} flagged, {time.time() - t0:.0f}s")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
