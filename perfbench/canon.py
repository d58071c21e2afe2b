"""Order-insensitive result hash, the same canonical form as
``tools/check_oracle.py``: floats at 9 significant digits, timestamps as
ISO strings, rows sorted, columns sorted by name."""

from __future__ import annotations

import hashlib
import math

import pandas as pd


def canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def frame_hash(df: pd.DataFrame) -> dict:
    """``{"rows", "cols", "hash"}`` of a result frame."""
    cols = sorted(df.columns)
    rows = sorted(
        ",".join(canon_cell(v) for v in row)
        for row in df[cols].itertuples(index=False)
    )
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return {"rows": len(df), "cols": cols, "hash": digest}
