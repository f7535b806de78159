"""Result fingerprints: row count plus an order-independent hash.

The same canonical form is computed for the engine's output (parquet
written by the check pass) and for the DuckDB oracle's result, so the two
compare exactly like scripts/check_oracle.py does: columns by name,
floats bit-for-bit, integral floats equal to the integer, decimals by
value, timestamps at microsecond precision.
"""
import datetime
import decimal
import glob
import hashlib
import math

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def duck(inputs):
    """A DuckDB connection with the corpus tables as views (any that exist)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{inputs}/.duckdb_tmp'")
    for t in TABLES:
        path = f"{inputs}/{t}.parquet"
        if glob.glob(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def canon(v):
    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return None
        if f.is_integer() and abs(f) < 2 ** 53:
            return int(f)
        return repr(f)
    if isinstance(v, (pd.Timestamp, datetime.datetime, np.datetime64)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ("ts", ts.value // 1000)
    if isinstance(v, datetime.date):
        return ("ts", pd.Timestamp(v).value // 1000)
    if isinstance(v, (pd.Timedelta, datetime.timedelta, np.timedelta64)):
        return ("td", pd.Timedelta(v).value // 1000)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    return str(v)


def fingerprint(df):
    """[row count, sum of per-row 64-bit hashes mod 2^64] of a DataFrame."""
    cols = sorted(df.columns)
    acc = 0
    for row in zip(*(df[c].tolist() for c in cols)):
        key = repr(tuple(canon(v) for v in row)).encode()
        acc = (acc + int.from_bytes(
            hashlib.blake2b(key, digest_size=8).digest(), "little")) % 2 ** 64
    return [len(df), str(acc)]


def of_parquet_dir(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        return [0, "0"]
    return fingerprint(pd.concat([pd.read_parquet(f) for f in files],
                                 ignore_index=True))
