"""Order-insensitive, strict fingerprint of a query result.

Columns are sorted by name, every cell is rendered to a string (the
driver's strict comparison), rows are sorted, and the rendering is hashed.
Timestamps render to microseconds and arrays render as tuples, so a
Spark ``toPandas()`` frame and a DuckDB ``fetchdf()`` frame of the same
rows give the same fingerprint.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd


def _render(col: pd.Series) -> pd.Series:
    if pd.api.types.is_datetime64_any_dtype(col):
        if getattr(col.dtype, "tz", None) is not None:
            col = col.dt.tz_convert("UTC").dt.tz_localize(None)
        return col.dt.strftime("%Y-%m-%d %H:%M:%S.%f").fillna("NaT")
    if col.dtype == object:
        col = col.map(
            lambda v: tuple(np.asarray(v).tolist()) if isinstance(v, (list, np.ndarray)) else v
        )
    return col.astype(str)


def fingerprint(pdf: pd.DataFrame) -> dict:
    """``{"rows": n, "sha256": hex}`` of ``pdf``, independent of row and
    column order."""
    cols = sorted(pdf.columns)
    rendered = pd.DataFrame({c: _render(pdf[c]) for c in cols}, columns=cols)
    lines = sorted("\x1f".join(r) for r in rendered.itertuples(index=False, name=None))
    digest = hashlib.sha256("\x1f".join(cols).encode())
    for line in lines:
        digest.update(line.encode())
        digest.update(b"\x1e")
    return {"rows": len(pdf), "sha256": digest.hexdigest()}
