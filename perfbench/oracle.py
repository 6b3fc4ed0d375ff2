"""Result checks made apart from the engine: DuckDB over the same
parquet files, and an order-insensitive content hash of two frames."""

from __future__ import annotations

import hashlib
import math

import duckdb
import pandas as pd

from datagen import TABLES


def duckdb_con(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if hasattr(v, "tolist"):  # numpy arrays inside array cells
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def canonical_rows(df: pd.DataFrame, ordered: bool = False) -> list[tuple]:
    """Rows as tuples of canonical strings, columns sorted by name and,
    unless ``ordered``, rows sorted too."""
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False)]
    return rows if ordered else sorted(rows)


def frame_hash(df: pd.DataFrame, ordered: bool = False) -> str:
    h = hashlib.sha256(repr(sorted(df.columns)).encode())
    for row in canonical_rows(df, ordered):
        h.update(repr(row).encode())
    return h.hexdigest()


def sql_mismatch(con: duckdb.DuckDBPyConnection, actual: str, expected: str) -> str | None:
    """Like ``mismatch`` for two unordered DuckDB relations, compared as
    multisets of exact rows inside DuckDB (for results too large to
    canonicalize row by row in Python)."""
    cols_a = con.sql(f"SELECT * FROM ({actual}) LIMIT 0").columns
    cols_e = con.sql(f"SELECT * FROM ({expected}) LIMIT 0").columns
    if sorted(cols_a) != sorted(cols_e):
        return f"columns {sorted(cols_a)} != {sorted(cols_e)}"
    sel = ", ".join(f'"{c}"' for c in sorted(cols_e))
    n_a, n_e = (con.sql(f"SELECT count(*) FROM ({q})").fetchone()[0] for q in (actual, expected))
    if n_e == 0:
        return "oracle returned no rows"
    if n_a != n_e:
        return f"row count {n_a} != {n_e}"
    (diff,) = con.sql(f"""
        SELECT count(*) FROM (
            SELECT {sel} FROM ({actual}) EXCEPT ALL SELECT {sel} FROM ({expected}))
    """).fetchone()
    return f"{diff} rows differ" if diff else None


def mismatch(actual: pd.DataFrame, expected: pd.DataFrame, ordered: bool = False) -> str | None:
    """None when the two frames hold the same rows; else a reason. An
    empty result never matches: agreeing on nothing checks nothing."""
    if len(expected) == 0:
        return "oracle returned no rows"
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return f"row count {len(actual)} != {len(expected)}"
    if frame_hash(actual, ordered) != frame_hash(expected, ordered):
        return "content hash differs"
    return None
