"""DuckDB reference check for benchmark outputs.

Same comparison as the engine's correctness gate: equal column names,
equal row count, and equal rows as an order-insensitive multiset after
sorting columns by name and rendering floats to 6 significant digits.
"""

from __future__ import annotations

import math
import os

import duckdb


class Oracle:
    """One DuckDB connection with a view per generated table."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                self.con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def mismatch(self, cols: list[str], rows: list[tuple], sql: str) -> str | None:
        """None when `rows` (with column names `cols`) equal the SQL's result."""
        cur = self.con.execute(sql)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows != oracle {len(orows)}"
        a, b = _normalize(rows, cols), _normalize(orows, ocols)
        if a != b:
            extra = next(r for r, s in zip(a, b) if r != s)
            return f"values differ, first differing row {extra}"
        return None


def _norm(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _normalize(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)
