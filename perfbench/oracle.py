"""Result checks: order-insensitive comparison of a Spark result with a
reference result (the DuckDB oracle for batch queries, the batch replay
of the keyed upsert for the stream)."""

from __future__ import annotations

import hashlib
import math

import pandas as pd


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, every cell rendered as text, rows sorted:
    the form whose hash is compared."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if isinstance(col.dtype, pd.DatetimeTZDtype):
            col = col.dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(col):
            df[c] = col.map(lambda v: "nan" if v is None or math.isnan(v) else repr(float(v)))
        elif col.dtype == object:
            df[c] = col.map(lambda v: "null" if v is None else str(v))
        else:
            df[c] = col.astype(str)
    return df.sort_values(by=list(df.columns), kind="stable").reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` in row count, column names and
    order-insensitive value hash; otherwise what differs."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    g, w = canonical(got), canonical(want)
    if value_hash(g) == value_hash(w):
        return None
    bad = (g != w).any(axis=1)
    i = int(bad.idxmax())
    return f"{int(bad.sum())}/{len(g)} rows differ, first: {g.iloc[i].to_dict()} != {w.iloc[i].to_dict()}"
