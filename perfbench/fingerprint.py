"""Order-insensitive result fingerprints.

The canonical form follows scripts/check_oracle.py: columns sorted by
name, rows sorted by all columns, timestamps compared at microsecond
precision. Cells are rendered to strings first so that columns holding
arrays or maps sort too, and so that two engines that agree on values
agree on the rendering.
"""
import datetime
import decimal
import hashlib
import math

import numpy as np
import pandas as pd

NULL = "\\N"


def cell(v) -> str:
    if v is None or v is pd.NaT:
        return NULL
    if isinstance(v, (float, np.floating)):
        return NULL if math.isnan(v) else repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return str(v.normalize()) if v == v else NULL
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.as_unit("us").isoformat()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{cell(k)}:{cell(x)}" for k, x in sorted(
            v.items(), key=lambda kv: cell(kv[0]))) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def column(s: pd.Series):
    """The rendered cells of one column; integer columns, which hold no
    nulls, take a vectorized path with the same rendering."""
    if s.dtype.kind in "iu":
        return s.astype(str).tolist()
    return [cell(v) for v in s.tolist()]


def canon(df: pd.DataFrame):
    """Sorted column names and the sorted rows of rendered cells."""
    cols = sorted(df.columns)
    return cols, sorted(zip(*(column(df[c]) for c in cols)))


def fingerprint(df: pd.DataFrame):
    """(row count, hex digest) of the canonical form."""
    cols, rows = canon(df)
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(("\x1f".join(r) + "\n").encode())
    return len(rows), h.hexdigest()[:20]
