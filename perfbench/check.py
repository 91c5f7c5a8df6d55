"""Output checks, run once per benchmark run outside the timed passes.

Query results are compared with their DuckDB oracles over the same
generated files through an order-insensitive hash of the rows,
normalized by ``tools/check_correctness.py`` (imported, not copied).
Queries without an oracle get a rows-only check (non-empty result).
"""

from __future__ import annotations

import hashlib
import os
import re

import duckdb

from tools.check_correctness import TABLES, _normalize


def oracle(in_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(in_dir, t)}.parquet'"
        )
    return con


def rows_hash(rows, columns) -> str:
    """Order-insensitive hash of a result (columns sorted by name)."""
    return hashlib.sha256(repr(_normalize(rows, columns)).encode()).hexdigest()[:16]


def check_query(df, sql: str | None, con) -> tuple[bool, int, str]:
    """Collect ``df`` and compare it with ``sql`` on ``con``.

    Returns (ok, result rows, detail)."""
    rows = df.collect()
    got = rows_hash(rows, df.columns)
    if sql is None:
        return len(rows) > 0, len(rows), f"rows-only {len(rows)} rows {got}"
    res = con.execute(sql)
    want = rows_hash(res.fetchall(), [d[0] for d in res.description])
    ok = got == want
    return ok, len(rows), f"{len(rows)} rows {got}" + ("" if ok else f" != oracle {want}")


def tables_read(sql: str | None) -> list[str]:
    """Input tables an oracle query names (empty without an oracle)."""
    return [t for t in TABLES if sql and re.search(rf"\b{t}\b", sql)]
