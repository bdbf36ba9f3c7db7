"""Output checks: every op's result against its DuckDB oracle.

A result is reduced to an order-insensitive digest: each cell is written
in a canonical form (integral numbers as integers, other floats as their
shortest round-trip repr, lists element by element), each row joins its
cells in column-name order, and the digest is the MD5 of the sorted rows.
Two results agree when their column names, row counts and digests agree,
which is the exact, order-insensitive comparison the library's oracle
gate makes.
"""
import decimal
import glob
import hashlib
import math
import os
import re

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, (float, np.floating)):
        v = float(v)
        return str(int(v)) if v.is_integer() and abs(v) < 2 ** 53 else repr(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def digest(df):
    """(sorted column names, row count, order-insensitive digest)."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(cell(r[c]) for c in cols) for r in df[cols].to_dict("records"))
    h = hashlib.md5()
    for r in rows:
        h.update(r.encode("utf-8") + b"\n")
    return cols, len(rows), h.hexdigest()


def read_jsonl(path):
    """A result the harness wrote as one JSON object per row."""
    import json
    with open(path) as fh:
        return pd.DataFrame.from_records([json.loads(ln) for ln in fh])


def read_parquet_dir(path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet output under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


_NUM = re.compile(r"^-?(\d+\.?\d*([eE][-+]?\d+)?|\.\d+|Infinity|NaN)$")


def read_csv_dir(path):
    """A Spark CSV output directory, numbers parsed back to exact doubles."""
    files = sorted(glob.glob(os.path.join(path, "*.csv")))
    if not files:
        raise FileNotFoundError(f"no csv output under {path}")
    df = pd.concat([pd.read_csv(f, dtype=str, keep_default_na=False) for f in files],
                   ignore_index=True)
    for c in df.columns:
        if df[c].map(lambda s: s == "" or bool(_NUM.match(s))).all():
            df[c] = df[c].map(lambda s: None if s == "" else float(s))
    return df


class Oracle:
    """DuckDB views over one input directory."""

    def __init__(self, data_dir, sql):
        self.sql = sql
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")

    def result(self, name):
        return self.con.sql(self.sql[name]).df()

    def compare(self, name, got, golden=None):
        """None when `got` matches the oracle for `name`, else a reason.
        `golden` overrides the oracle's digest triple."""
        want = golden or digest(self.result(name))
        have = digest(got)
        if have[1] == want[1] == 0:
            return None
        if have[0] != want[0]:
            return f"columns {have[0]} != {want[0]}"
        if have[1] != want[1]:
            return f"rows {have[1]} != {want[1]}"
        if have[2] != want[2]:
            return f"digest {have[2]} != {want[2]}"
        return None
