"""Order-insensitive result fingerprints.

The canonical form follows ``tools/check_oracle.py``: columns compared
by sorted name, integers and floats as one numeric kind, timestamps
tz-naive, arrays as sequences, rows order-insensitive, NaN and null
equal. Floats are rounded to ``DIGITS`` decimals before hashing, so a
Spark result and its DuckDB oracle hash alike whenever they agree to
that precision (every oracle query rounds its float aggregates to four
or fewer decimals on both engines).
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
from typing import Any

import numpy as np
import pandas as pd

DIGITS = 6
_NULL = "∅"


def canon_value(v: Any) -> str:
    """One cell as a canonical string."""
    if v is None or v is pd.NaT or v is pd.NA:
        return _NULL
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(v)
        if math.isnan(f):
            return _NULL
        return repr(round(f, DIGITS) + 0.0)  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, (_dt.date, np.datetime64)):
        ts = pd.Timestamp(v)
        if ts is pd.NaT:
            return _NULL
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):  # pyspark Row (a struct cell)
        return canon_value(v.asDict())
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def fingerprint(df: pd.DataFrame) -> dict[str, Any]:
    """``{"rows", "columns", "hash"}`` of a result: row count, sorted
    column names, and a hash over the sorted canonical rows."""
    cols = sorted(df.columns)
    lines = sorted(
        "\x1f".join(canon_value(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:20]
    return {"rows": len(df), "columns": cols, "hash": digest}
