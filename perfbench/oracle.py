"""Spark-vs-DuckDB result check for the plan mixes.

Each plan's first result of a run is compared with the engine's own
DuckDB oracle SQL over the same parquet files: same column names, same
row count, and the same values after sorting rows by their string form
(floats to a relative 1e-9, everything else as strings — the way the
engine's test suite compares them)."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in tables:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) == 0:
        return df.reset_index(drop=True)
    key = df.astype(str).apply(lambda r: "\x00".join(r), axis=1)
    return df.iloc[key.argsort(kind="stable")].reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame, tol: float = 1e-9) -> str | None:
    """None when the frames hold the same rows, else the first
    difference found."""
    left, right = _normalize(got), _normalize(want)
    if list(left.columns) != list(right.columns):
        return f"columns {list(left.columns)} != {list(right.columns)}"
    if len(left) != len(right):
        return f"row count {len(left)} != {len(right)}"
    for col in left.columns:
        ls, rs = left[col], right[col]
        if pd.api.types.is_float_dtype(ls) or pd.api.types.is_float_dtype(rs):
            for i, (a, b) in enumerate(zip(ls, rs)):
                if pd.isna(a) and pd.isna(b):
                    continue
                if pd.isna(a) or pd.isna(b) or not math.isclose(
                    float(a), float(b), rel_tol=tol, abs_tol=tol
                ):
                    return f"{col}[{i}]: {a!r} != {b!r}"
        else:
            la, ra = ls.astype(str).tolist(), rs.astype(str).tolist()
            for i, (a, b) in enumerate(zip(la, ra)):
                if a != b:
                    return f"{col}[{i}]: {a!r} != {b!r}"
    return None
