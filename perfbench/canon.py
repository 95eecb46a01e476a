"""Canonical form of a query result, shared by the reference generator
(make_refs.py) and the runner (run.py).

A result is reduced to (row count, sha256) after the same typing and
normalisation the repository's DuckDB oracle check (tools/check.py)
applies before it compares: columns sorted by name, each column's
dtype kind (int/float/bool/datetime/object) part of the hash, objects
as str (bytes as hex), datetimes at microsecond precision, every other
column as float, rows sorted. Floats hash by their exact bits (-0.0 and
0.0 are one value, as are all NaNs), so only an exact match passes,
as in check.py.
"""
import glob
import hashlib
import struct

import pandas as pd


def kind(dtype):
    st = str(dtype)
    if st.startswith("datetime"):
        return "datetime"
    if st == "bool":
        return "bool"
    if st == "object":
        return "object"
    if "int" in st:
        return "int"
    if "float" in st:
        return "float"
    return st


def _cell(v):
    if isinstance(v, float):
        if v != v:
            return "nan"
        return struct.pack(">d", v + 0.0).hex()
    return repr(v)


def digest(df):
    """(rows, hex digest) of a pandas DataFrame."""
    cols = sorted(df.columns)
    d = df[cols].copy()
    kinds = [kind(d[c].dtype) for c in cols]
    for c in cols:
        if d[c].dtype == object:
            d[c] = d[c].map(lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else str(v))
        elif str(d[c].dtype).startswith("datetime"):
            d[c] = d[c].astype("datetime64[us]").astype(str)
        else:
            try:
                d[c] = d[c].astype(float)
            except (ValueError, TypeError):
                d[c] = d[c].astype(str)
    if cols:
        d = d.sort_values(cols).reset_index(drop=True)
    h = hashlib.sha256()
    h.update(repr(list(zip(cols, kinds))).encode())
    for row in d.itertuples(index=False, name=None):
        h.update(("\x1e".join(_cell(v) for v in row) + "\n").encode())
    return len(d), h.hexdigest()


def read_spark_result(path):
    """A Spark parquet output directory as one pandas DataFrame, read the
    way tools/check.py reads it."""
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
