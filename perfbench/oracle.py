"""Expected answers from DuckDB over the same generated frames and parquet
files the program reads, and an order-insensitive comparison."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb


class Oracle:
    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")

    def register_frame(self, name: str, pdf) -> None:
        self.con.register(name, pdf)

    def register_parquet(self, dir_path: str, names, extra=()) -> None:
        """One view per table over its parquet file, with the rows of the
        registered frames named in ``extra`` appended (ingested batches)."""
        for name in names:
            path = os.path.join(dir_path, f"{name}.parquet").replace("'", "''")
            parts = [f"SELECT * FROM read_parquet('{path}')"]
            parts += [f"SELECT * FROM {frame}" for frame in extra]
            self.con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                             + " UNION ALL ".join(parts))

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()


def _cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def _sort_key(row):
    # floats sort by a rounded image so engine-order noise in the last
    # digits cannot reorder rows that agree within tolerance
    return tuple((0, "") if c is None else
                 (1, round(c, 6)) if isinstance(c, float) else (2, str(c))
                 for c in row)


def same_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """None when the two row multisets agree (columns compared by
    position, numbers within 1e-9 relative), else a one-line reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    g = sorted((tuple(_cell(c) for c in r) for r in got), key=_sort_key)
    w = sorted((tuple(_cell(c) for c in r) for r in want), key=_sort_key)
    for a, b in zip(g, w):
        if len(a) != len(b):
            return f"{len(a)} columns, expected {len(b)}"
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return f"row {a} != expected {b}"
            elif x != y:
                return f"row {a} != expected {b}"
    return None
