"""Local mirror of the driver's correctness gate.

Runs every registered query on Spark AND its oracle SQL on DuckDB over
the same parquet tables, then compares row count, column names, and
order-insensitive values. Usage:

    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

from realestate_engine.schemas import TESTDATA_TABLES  # noqa: E402


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per engine table over the
    parquet files in sf_dir: what every oracle SQL reads."""
    con = duckdb.connect()
    for tb in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {tb} AS SELECT * FROM read_parquet('{sf_dir}/{tb}.parquet')")
    return con


def oracle_sql(name: str, sf_dir: str) -> str | None:
    """The oracle SQL of query `name` for the tables in sf_dir, or None
    if it has none. Filesystem-fact oracles (s13 read_blob) name the
    driver's fixed sf0.01 directory; this rewrites it to sf_dir, so a
    run at another scale compares the files it actually reads."""
    from realestate_engine.registry import ORACLES

    sql = ORACLES.get(name)
    return None if sql is None else sql.replace("/root/testdata/sf0.01", sf_dir)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize for order-insensitive comparison."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("float64")  # unify int widths & allow NaN
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.map(lambda v: tuple(np.asarray(v).tolist()) if isinstance(v, (list, np.ndarray)) else v)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort").reset_index(drop=True)
    return df


def dtype_sig(s: pd.Series) -> str:
    """Dtype-family signature mirroring the driver's type-strict hasher.

    The driver hashes values with their physical type, so an int64
    engine column against a float64 oracle column (DuckDB HUGEINT) or
    an int32 one (un-cast small-int arithmetic) fails even when every
    value is equal. canon()'s width-unifying coercion used to mask
    exactly that class locally (a38, round 5) — compare signatures
    BEFORE coercing.
    """
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return f"int{s.dtype.itemsize * 8}"
    if pd.api.types.is_float_dtype(s):
        return "float"  # width-tolerant: value compare uses atol anyway
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "object"


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        problems.append(f"columns spark={scols} oracle={ocols}")
        return problems
    warnings = []
    for c in scols:
        ss, os_ = dtype_sig(sdf[c]), dtype_sig(odf[c])
        if ss == os_:
            continue
        kinds = {ss, os_}
        # Driver evidence (CORRECTNESS_r02/r03/r05): int-width drift
        # (m29 int32-vs-int64) and Spark DateType objects vs DuckDB
        # datetime64 (p1) hash GREEN under the driver — warn only.
        # int-vs-float (a38: DuckDB HUGEINT -> float64 vs Spark int64)
        # is the class the driver FAILS — hard error. int-with-nulls
        # becomes float64 on BOTH fetch paths, so float/float still
        # compares meaningfully.
        import datetime as _dt

        date_like = kinds == {"object", "datetime"} and all(
            isinstance(v, (_dt.date, _dt.datetime))
            for col in (sdf[c], odf[c])
            if dtype_sig(col) == "object"
            for v in col.dropna().head(5)
        )
        if all(k.startswith("int") for k in kinds) or date_like:
            warnings.append(f"dtype-warn {c}: spark={sdf[c].dtype} oracle={odf[c].dtype}")
        else:
            problems.append(f"dtype {c}: spark={sdf[c].dtype} ({ss}) oracle={odf[c].dtype} ({os_})")
    if warnings:
        print("  " + "; ".join(warnings), file=sys.stderr)
    if problems:
        return problems
    a, b = canon(sdf), canon(odf)
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if pd.api.types.is_float_dtype(a[c]):
            eq = np.isclose(av.astype(float), bv.astype(float), rtol=0, atol=1e-9, equal_nan=True)
        else:
            eq = (pd.Series(av) == pd.Series(bv)) | (pd.isna(pd.Series(av)) & pd.isna(pd.Series(bv)))
            eq = eq.values
        if not bool(np.all(eq)):
            bad = int(np.sum(~eq))
            i = int(np.argmax(~eq))
            problems.append(f"col {c}: {bad} mismatches, first at row {i}: spark={av[i]!r} oracle={bv[i]!r}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from realestate_engine.registry import QUERIES, load_all
    from realestate_engine.session import create_session

    load_all()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = create_session("check_oracle", master=f"local[{cpus}]", shuffle_partitions=cpus)

    con = oracle_connection(args.sf)

    names = args.names or sorted(QUERIES)
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        fn = QUERIES[name]
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        sql = oracle_sql(name, args.sf)
        if sql is None:
            print(f"ROWS {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        problems = compare(sdf, odf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems[:4]))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
