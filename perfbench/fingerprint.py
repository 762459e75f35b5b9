"""Order-insensitive fingerprints of query results.

A result is normalised the way the engine's DuckDB oracle check
(tools/check_oracle.py) normalises both sides before comparing: columns
sorted by name, timestamps at microsecond resolution, DATE values as
midnight timestamps, arrays as tuples, integer widths ignored. Each row is
then hashed on its own and the row hashes are summed, so row order never
matters while duplicated rows still count.

The fingerprint is "<rows>|<column:kind,...>|<hash>". Queries whose values
are approximate by design (b11) pin only "<rows>|<columns>".
"""
import datetime
import decimal
import hashlib
import math

import numpy as np
import pandas as pd

ROWS_ONLY = {"b11_approx_distinct"}


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            if getattr(df[c].dtype, "tz", None) is not None:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            sample = df[c].dropna()
            if len(sample) and isinstance(sample.iloc[0], datetime.date) \
                    and not isinstance(sample.iloc[0], datetime.datetime):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            else:
                df[c] = df[c].map(
                    lambda v: tuple(v.tolist()) if hasattr(v, "tolist")
                    else (tuple(v) if isinstance(v, list) else v))
    return df.reset_index(drop=True)


def canon(v) -> str:
    """One value as text; equal values (as the oracle check sees them)
    give equal text."""
    if v is None or v is pd.NaT:
        return "~"
    if isinstance(v, (float, np.floating)):
        return "~" if math.isnan(v) else repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(), "f")
    if isinstance(v, (pd.Timestamp, np.datetime64, datetime.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (tuple, list, np.ndarray)):
        return "(" + ",".join(canon(x) for x in v) + ")"
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return "b" + v.hex()
    return repr(str(v))


def kind(dtype) -> str:
    k = dtype.kind
    return "i" if k == "u" else k


def fingerprint(df: pd.DataFrame, rows_only: bool = False) -> str:
    df = normalize(df)
    if rows_only:
        return f"{len(df)}|{','.join(df.columns)}"
    cols = ",".join(f"{c}:{kind(df[c].dtype)}" for c in df.columns)
    total = 0
    for row in df.itertuples(index=False, name=None):
        h = hashlib.blake2b("\x1f".join(canon(v) for v in row).encode(), digest_size=8)
        total = (total + int.from_bytes(h.digest(), "big")) % (1 << 64)
    return f"{len(df)}|{cols}|{total:016x}"


def of_parquet(path: str, name: str) -> str:
    return fingerprint(pd.read_parquet(path), rows_only=name in ROWS_ONLY)
