"""Output checks for the query workloads.

A result is compared through a canonical row hash: columns sorted by name,
each value stringified (floats exactly, NULL and NaN alike as ``null``),
each column tagged float or not (an int-vs-float column pair is a
mismatch, as in ``tools/check_oracle.py``), rows sorted. The expected
hash of a query is its DuckDB oracle result (``oracle_sql.json``) on the
same generated tables, hashed the same way; ``calibrate.py`` runs the
oracle and keeps those hashes in ``calibration.json``.
"""
import glob
import hashlib
import json
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if v is None:
        return "null"
    if isinstance(v, float):
        if math.isnan(v):
            return "null"
        return repr(v + 0.0)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if hasattr(v, "tolist") and not isinstance(v, str):
        return _cell(v.tolist())
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    try:
        if pd.isna(v):
            return "null"
    except (TypeError, ValueError):
        pass
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    kinds = ["f" if pd.api.types.is_float_dtype(df[c]) else "o" for c in cols]
    rows = sorted("\x1f".join(_cell(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256()
    h.update(("\x1f".join(cols) + "\n" + "".join(kinds) + "\n").encode())
    for r in rows:
        h.update(r.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def output_hash(con, out_dir):
    """Hash of a Spark result directory, or None when it holds no parquet."""
    if not glob.glob(os.path.join(out_dir, "*.parquet")):
        return None
    return frame_hash(con.execute(
        f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").df())


def oracle_hash(con, sql):
    return frame_hash(con.execute(sql).df())


def load_oracles(repo_root):
    with open(os.path.join(repo_root, "oracle_sql.json")) as f:
        raw = json.load(f)
    return {k[:-len(".parquet")] if k.endswith(".parquet") else k: v
            for k, v in raw.items()}
