"""DuckDB correctness oracle.

Results are compared the way the repository's correctness gate
compares them: the same column-name set, the same row count, and
order-insensitive exact values (columns sorted by name, rows sorted,
doubles by their exact repr).
"""

from __future__ import annotations

import math
import os

import duckdb


def norm_cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return ("f", repr(v))
    if isinstance(v, (list, tuple)):
        return ("arr", tuple(norm_cell(x) for x in v))
    return (type(v).__name__, str(v))


def frame_key(cols, rows) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def mismatch(cols, rows, ocols, orows) -> str | None:
    """None when the engine's (cols, rows) equal the oracle's, else a
    one-line description of the first difference."""
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != oracle {len(orows)}"
    got, want = frame_key(cols, rows), frame_key(ocols, orows)
    for i, (a, b) in enumerate(zip(got, want)):
        if a != b:
            return f"sorted row {i}: {a} != oracle {b}"
    return None


class Oracle:
    """A DuckDB connection with every fixture table as a view."""

    def __init__(self, fixture_dir: str, tables):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in tables:
            path = os.path.join(fixture_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def check(self, sql: str, cols, rows) -> str | None:
        ocols, orows = self.query(sql)
        return mismatch(cols, rows, ocols, orows)

    def close(self) -> None:
        self.con.close()
