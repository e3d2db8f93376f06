"""DuckDB oracle: the expected result of every benchmark operation,
computed from the same parquet files the graph is built from."""

from __future__ import annotations

import math
import os

import duckdb

from datagen import TABLES


class Oracle:
    def __init__(self, data_dir: str, temp_dir: str, threads: int) -> None:
        self._con = duckdb.connect()
        self._con.execute(f"SET threads = {int(threads)}")
        self._con.execute(f"SET temp_directory = '{temp_dir}'")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._memo: dict[tuple, list[tuple]] = {}

    def expected(self, sql: str, params: dict) -> list[tuple]:
        key = (sql, tuple(sorted(params.items())))
        rows = self._memo.get(key)
        if rows is None:
            rows = self._con.execute(sql, params).fetchall()
            self._memo[key] = rows
        return rows

    def close(self) -> None:
        self._con.close()


def _norm(v):
    if hasattr(v, "item"):              # numpy scalar
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def frame_rows(pdf) -> list[tuple]:
    """Rows of a pandas result as plain Python tuples."""
    return [tuple(_norm(v) for v in row)
            for row in pdf.itertuples(index=False, name=None)]


def _same_value(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def mismatch(got: list[tuple], want: list[tuple]) -> str | None:
    """Why ``got`` differs from ``want``, or None when they agree. Both
    sides come from ORDER BY queries over unique keys, so rows are
    compared in order."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(map(_same_value, g, w)):
            return f"row {i}: {g!r}, expected {w!r}"
    return None
