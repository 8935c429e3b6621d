"""Correctness checks against the registry's DuckDB oracles.

Spark writes a query's result as parquet; DuckDB runs the query's
``oracle_sql()`` twin over the same input files and counts the rows that
either side has and the other lacks (multiset difference, so duplicates
count). Runs outside every timed region.
"""

from __future__ import annotations

import os
import tempfile

import duckdb

TABLES = ("events", "documents", "embeddings")


def connect(data_dir: str, tables=TABLES) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '3GB'")
    # spill files go where the run keeps its own, not into the cwd
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}/duckdb'")
    for t in tables:
        if os.path.exists(f"{data_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def row_diff(con: duckdb.DuckDBPyConnection, got: str, oracle: str) -> tuple[int, int]:
    """``(rows in got, rows in got xor oracle)`` where ``got`` is any
    DuckDB relation text and ``oracle`` a query; a column-set mismatch
    counts every row of both sides as different. Each side is evaluated
    once, into a temporary table."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM {got}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS SELECT * FROM ({oracle})")
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    got_cols = [r[0] for r in con.execute("DESCRIBE got").fetchall()]
    want_cols = [r[0] for r in con.execute("DESCRIBE want").fetchall()]
    if sorted(got_cols) != sorted(want_cols):
        return n_got, n_got + con.execute("SELECT count(*) FROM want").fetchone()[0]
    sel = ", ".join(f'"{c}"' for c in sorted(got_cols))
    n_diff = con.execute(
        f"""
        SELECT (SELECT count(*) FROM (SELECT {sel} FROM got EXCEPT ALL SELECT {sel} FROM want))
             + (SELECT count(*) FROM (SELECT {sel} FROM want EXCEPT ALL SELECT {sel} FROM got))
        """
    ).fetchone()[0]
    return n_got, n_diff


def parquet(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"
