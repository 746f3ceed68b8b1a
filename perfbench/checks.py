"""Output checks, run outside the timed region.

The parquet warehouse is read with DuckDB, not Spark, so a check starts
no Spark job and cannot disturb the next load's timing or the trace.
Content hashes use ``tools/check_correctness.py``'s canonical,
order-insensitive ``frame_hash``, the same one its DuckDB oracle uses.
"""

from __future__ import annotations

import os

import duckdb

from gen import FOREIGN_KEYS, TABLES


def _scan(path: str, table: str) -> str:
    return f"read_parquet('{path}/{table}.parquet/*.parquet')"


def content_hashes(path: str) -> dict[str, str]:
    """Order-insensitive hash of every table's rows."""
    from tools.check_correctness import frame_hash

    out = {}
    with duckdb.connect() as con:
        for t in TABLES:
            res = con.execute(f"SELECT * FROM {_scan(path, t)}")
            cols = [d[0] for d in res.description]
            out[t] = frame_hash(cols, res.fetchall())
    return out


def check_warehouse(path: str, expected: dict[str, int]) -> tuple[dict[str, int], list[str]]:
    """Row counts of the 9 tables under ``path``, and their problems: row
    counts against the generator's expectation, unique primary keys,
    closed foreign keys."""
    counts, problems = {}, []
    with duckdb.connect() as con:
        for t in TABLES:
            n, ids = con.execute(
                f"SELECT count(*), count(DISTINCT id) FROM {_scan(path, t)}"
            ).fetchone()
            counts[t] = n
            if n != expected[t]:
                problems.append(f"{t}: {n} rows, expected {expected[t]}")
            if ids != n:
                problems.append(f"{t}: {n - ids} duplicate ids")
        for child, col, parent in FOREIGN_KEYS:
            (dangling,) = con.execute(
                f"SELECT count(*) FROM {_scan(path, child)} c "
                f"WHERE c.{col} IS NULL OR c.{col} NOT IN "
                f"(SELECT id FROM {_scan(path, parent)})"
            ).fetchone()
            if dangling:
                problems.append(f"{child}.{col}: {dangling} rows not in {parent}.id")
    return counts, problems


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Hadoop ``.crc`` side files
    and ``_SUCCESS`` markers excluded)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total
