"""Output checks of the benchmark.

`compare_oracle` applies the rules of tools/selfcheck.py: a graft result is
compared with the DuckDB oracle over the same generated inputs by column
names, row count and values (columns sorted by name, rows sorted by all
columns, floats to 1e-9 relative tolerance, int-vs-float dtype class must
agree). `compare_pin` compares a row count and order-independent content
hash against the value pinned for the seed.
"""
import datetime
import glob
import os

import duckdb
import numpy as np
import pandas as pd


def connect(in_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(os.path.dirname(in_dir), 'duckdb_tmp')}'")
    for d in sorted(glob.glob(os.path.join(in_dir, "*.parquet"))):
        name = os.path.basename(d)[: -len(".parquet")]
        files = os.path.join(d, "*.parquet") if os.path.isdir(d) else d
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{files}')")
    return con


def _norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            nn = df[c].dropna()
            if len(nn) and isinstance(nn.iloc[0], (datetime.date, datetime.datetime)):
                df[c] = pd.to_datetime(df[c])
            else:
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def read_result(path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    return pd.concat([pd.read_parquet(p) for p in files]) if files else pd.DataFrame()


def compare_frames(got, want):
    """None when equal, else the first difference as text."""
    got, want = _norm(got), _norm(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) != pd.api.types.is_float_dtype(w):
            return f"col {c}: dtype class mismatch {g.dtype} vs {w.dtype}"
        if pd.api.types.is_float_dtype(g):
            gv, wv = g.astype(float).values, w.astype(float).values
            ok = np.isclose(gv, wv, rtol=1e-9, atol=1e-9, equal_nan=True)
            if not np.all(ok):
                i = int(np.argmin(ok))
                return f"col {c} row {i}: {gv[i]!r} vs {wv[i]!r}"
        else:
            eq = (g.values == w.values) | (pd.isna(g).values & pd.isna(w).values)
            if not np.all(eq):
                i = int(np.argmin(eq))
                return f"col {c} row {i}: {g.values[i]!r} vs {w.values[i]!r}"
    return None


def compare_pin(observed, pinned):
    """None when (rows, hash) equals the pinned pair, else the difference."""
    if pinned is None:
        return "no pinned value"
    if list(observed) != list(pinned):
        return f"rows/hash {list(observed)} vs pinned {list(pinned)}"
    return None
