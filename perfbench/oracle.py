"""Correctness check: each registry query's ANSI-SQL oracle runs on
DuckDB over the same inputs and is compared with the engine's rows by
count, column names and an order-insensitive value hash (the engine's
own oracle-gate convention).
"""

from __future__ import annotations

import hashlib
import math

import duckdb


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


class QueryOracle:
    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def check(self, oracle_sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the engine's rows match the oracle's, else why not."""
        res = self.con.execute(oracle_sql)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
        if sorted(cols) != sorted(d_cols):
            return f"columns {cols} != {d_cols}"
        if len(rows) != len(d_rows):
            return f"{len(rows)} rows != {len(d_rows)}"
        if value_hash(cols, rows) != value_hash(d_cols, d_rows):
            return "value hash differs"
        return None
