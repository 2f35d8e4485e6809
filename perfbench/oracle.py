"""Correctness gate: every maintained view against a from-scratch DuckDB
recompute of its SQL over the benchmark's own post-delta world."""

from __future__ import annotations

import math

import duckdb


def _key(row: tuple) -> tuple:
    # None sorts first; floats compare on a rounded value so that rows whose
    # floats differ only in the last bits still line up
    return tuple(
        (0, "") if v is None else (1, round(v, 6) if isinstance(v, float) else v)
        for v in row
    )


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def diff(got: list[tuple], want: list[tuple]) -> str | None:
    """None when the two bags of rows are equal, else a short reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(sorted(got, key=_key), sorted(want, key=_key)):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return f"row {g!r} differs from expected {w!r}"
    return None


def recompute(tables: dict, sql: str) -> list[tuple]:
    """Run ``sql`` in DuckDB over ``tables`` (name -> pyarrow table)."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for name, arrow in tables.items():
            con.register(name, arrow)
        return [tuple(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()
