"""Result checks: order-insensitive hash of a result set, and the DuckDB
side of each comparison, computed once per run outside the timed window.

Values are canonicalised by the repo's parity gate (``tests/oracle.py``)
and compared exactly, as that gate does: the engine's operators round on
both sides so the doubles are identical.
"""

from __future__ import annotations

import hashlib

import duckdb

from tests.oracle import canonicalize  # the parity gate's canonical form

TABLES = ("region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings")


def digest(pdf) -> tuple[int, str]:
    """(row count, hash) of a pandas frame, independent of row and
    column order: a hash of the parity gate's canonical matrix."""
    cols, rows = canonicalize(pdf)
    h = hashlib.sha256("\x1e".join(cols).encode())
    for row in rows:
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return len(rows), h.hexdigest()


def duckdb_for(sf_dir: str, tables=TABLES) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def expected(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, str]:
    return digest(con.execute(sql).df())
