"""Compare a query's output with its DuckDB oracle over the same tables.

The comparison is the engine's correctness-gate rule: same row count, same
column names, and the same order-insensitive value hash (columns sorted by
name, rows sorted by their rendered form, floats to 12 significant digits).
"""

from __future__ import annotations

import datetime
import hashlib
import math

import duckdb

from datagen import TABLES


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha1()
    for line in sorted("|".join(_cell(r[i]) for i in order) for r in rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


class Oracle:
    """DuckDB views over the benchmark's tables; one connection per process."""

    def __init__(self, data_dir: str):
        self._con = duckdb.connect()
        for t in TABLES:
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self._memo: dict[str, tuple[list[str], int, str]] = {}

    def _expected(self, name: str, sql: str) -> tuple[list[str], int, str]:
        if name not in self._memo:
            res = self._con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            self._memo[name] = (sorted(cols), len(rows), _digest(cols, rows))
        return self._memo[name]

    def mismatch(self, name: str, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when ``(cols, rows)`` equals the oracle's result, else why not."""
        ocols, n, digest = self._expected(name, sql)
        if sorted(cols) != ocols:
            return f"columns {sorted(cols)} != oracle {ocols}"
        if len(rows) != n:
            return f"{len(rows)} rows != oracle {n}"
        if _digest(cols, rows) != digest:
            return "value hash differs from oracle"
        return None

    def close(self) -> None:
        self._con.close()
