"""Exact reference answers from DuckDB, and the comparison against them.

The reference for a workload is the registered oracle SQL of the query that
computes the same membership (``plans.segmentation_queries``), run by
DuckDB over a ``events`` view of exactly the files the engine has been
handed. Comparison follows the parity tests: same column names, then the
same rows as an order-insensitive multiset of exact values.
"""

from __future__ import annotations

import duckdb


def reference_rows(files: list[str], oracle_sql: str) -> tuple[list[str], list[tuple]]:
    """(column names, rows) of ``oracle_sql`` over the parquet ``files``."""
    con = duckdb.connect()
    try:
        listed = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet([{listed}])")
        cur = con.execute(oracle_sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def diff(got_cols: list[str], got_rows: list[tuple], want_cols: list[str],
         want_rows: list[tuple]) -> str | None:
    """None when the results match, else a one-line description of the
    first difference."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns: got {sorted(got_cols)} want {sorted(want_cols)}"
    order = [got_cols.index(c) for c in want_cols]
    got = sorted((tuple(r[i] for i in order) for r in got_rows), key=repr)
    want = sorted((tuple(r) for r in want_rows), key=repr)
    if len(got) != len(want):
        return f"row count: got {len(got)} want {len(want)}"
    for i, (a, b) in enumerate(zip(got, want)):
        if a != b:
            return f"first difference at sorted row {i}: got {a!r} want {b!r}"
    return None
