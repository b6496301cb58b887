"""Order-insensitive result equality against a DuckDB oracle.

Same rule as the project's oracle harness: equal column names, equal row
count, and an equal multiset of rows where every cell must also have the
same Python type (an int is not equal to a float). Missing values (None,
NaN, NaT) are all one value. Rows are compared as hashed tuples, so a
100k-row result compares in well under a second.
"""

from __future__ import annotations

from collections import Counter

import duckdb
import numpy as np
import pandas as pd

from gen import TABLES


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _cell(x):
    if isinstance(x, (list, tuple, np.ndarray)):
        return ("seq", tuple(_cell(v) for v in x))
    if x is None or (isinstance(x, float) and x != x) or x is pd.NaT:
        return None
    return (type(x).__name__, x)


def _rows(df: pd.DataFrame) -> Counter:
    cols = sorted(df.columns)
    data = [df[c].astype(object).tolist() for c in cols]
    return Counter(tuple(_cell(v) for v in row) for row in zip(*data))


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when equal, else a one-line description of the first
    difference found."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a, b = _rows(got), _rows(want)
    if a != b:
        extra = next(iter(a - b), None)
        return f"{sum((a - b).values())} rows differ, e.g. {extra!r}"
    return None
