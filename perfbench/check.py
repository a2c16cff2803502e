"""Order-insensitive result hashing, shared by the benchmark's check pass
and by ``freeze.py``, which records the expected hashes.

A result is normalised the way the project's oracle-parity tests compare
it: columns sorted by name, timestamps and floats rendered exactly, rows
sorted. The hash covers the column names and every cell.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.dt.tz_localize(None).dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(col):
            df[c] = col.map(
                lambda v: "NaN" if v is None or math.isnan(v) else repr(float(v))
            )
        else:
            df[c] = col.map(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frame_hash(df: pd.DataFrame) -> str:
    """sha256 of the normalised frame, column names included."""
    norm = normalize(df)
    h = hashlib.sha256("\x1f".join(norm.columns).encode())
    for row in norm.itertuples(index=False):
        h.update(b"\x1e")
        h.update("\x1f".join(row).encode())
    return h.hexdigest()
