"""Row-set comparison against DuckDB, with the normalisation the repo's
driver simulation uses (scripts/driver_sim.py via tests/oracle.py):
columns compared by sorted name, floats rounded to 9 places and compared
with a 1e-6 tolerance, and date/datetime midnight treated as equal.
Rows are aligned on their non-float cells before the float cells are
compared, so a last-digit float difference cannot reorder them."""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb


def duckdb_views(tables: dict[str, str]):
    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def run_sql(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _cell(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (dt.date, dt.datetime)):
        s = str(v)
        return s[:-9] if s.endswith(" 00:00:00") else s
    return v


def _normalise(cols: list[str], rows: list[tuple]) -> list[tuple[tuple, tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        cells = [_cell(r[i]) for i in order]
        key = tuple(repr(c) for c in cells if not isinstance(c, float))
        out.append((key, tuple(c for c in cells if isinstance(c, float))))
    return sorted(out)


def same_rows(a_cols, a_rows, b_cols, b_rows) -> str | None:
    """None if the two row sets match, else a one-line reason."""
    if sorted(a_cols) != sorted(b_cols):
        return f"columns differ: {sorted(a_cols)} vs {sorted(b_cols)}"
    if len(a_rows) != len(b_rows):
        return f"row count differs: {len(a_rows)} vs {len(b_rows)}"
    for (ka, fa), (kb, fb) in zip(_normalise(a_cols, a_rows), _normalise(b_cols, b_rows)):
        if ka != kb or len(fa) != len(fb):
            return f"row differs: {ka} vs {kb}"
        for x, y in zip(fa, fb):
            if not math.isclose(x, y, rel_tol=1e-6, abs_tol=1e-6):
                return f"value differs at {ka}: {x} vs {y}"
    return None
