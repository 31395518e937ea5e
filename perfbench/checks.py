"""Output checks: order-insensitive frame comparison and DuckDB helpers.

The canonical form is the repository's oracle harness's own
(``tests/oracle.py``): columns sorted by name, decimals as floats,
timestamps as ISO strings, integers as int64, floats compared at nine
significant digits, rows compared as a sorted multiset.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from map_reduce_spark.io import TABLES as CATALOG_TABLES
from tests.oracle import _canon, _key


def frames_differ(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else a one-line reason."""
    g, w = _canon(got), _canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"row count {len(g)} != {len(w)}"
    # sorted by repr: a None beside a value must not stop the sort
    gr, wr = ([_key(r) for r in df.itertuples(index=False, name=None)] for df in (g, w))
    bad = [(a, b) for a, b in zip(sorted(gr, key=repr), sorted(wr, key=repr)) if a != b]
    return f"{len(bad)} rows differ, first {bad[0][0]!r} != {bad[0][1]!r}" if bad else None


def duck_catalog(sf_dir: str, tables=CATALOG_TABLES) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated catalog table."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con
