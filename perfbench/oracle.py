"""DuckDB oracles and the strict result comparison.

The comparison is the strict form of the repository's parity suite,
whose canonicalization it imports: column-name parity, per-column
dtype-class parity, equal row counts and exact-value multiset equality
after a canonicalization that rounds nothing.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd

from tests.test_queries_vs_duckdb import _dtype_class, _multiset


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-len('.parquet')]} AS "
                f"SELECT * FROM '{os.path.join(sf_dir, f)}'"
            )
    return con


def canonical(df: pd.DataFrame) -> tuple[tuple[str, ...], tuple[str, ...], list[tuple]]:
    """(sorted column names, their dtype classes, sorted canonical rows)."""
    cols = tuple(sorted(df.columns))
    return cols, tuple(_dtype_class(df[c]) for c in cols), _multiset(df)


def digest(df: pd.DataFrame) -> str:
    return hashlib.sha256(repr(canonical(df)).encode()).hexdigest()


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when `got` equals the oracle result `want`, else the reason."""
    gc, gt, gr = canonical(got)
    wc, wt, wr = canonical(want)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    bad = [c for c, a, b in zip(gc, gt, wt) if a != b and "empty" not in (a, b)]
    if bad:
        return f"dtype classes differ on {bad}"
    if len(gr) != len(wr):
        return f"row count {len(gr)} vs {len(wr)}"
    diff = [(a, b) for a, b in zip(gr, wr) if a != b]
    if diff:
        return f"{len(diff)} rows differ, first {diff[0]}"
    return None
