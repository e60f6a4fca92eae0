"""Output checks: order-insensitive row comparison that tolerates float
rounding, and DuckDB views over the generated tables."""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

REL_TOL = 1e-9
ABS_TOL = 1e-9


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    return v


def _sort_key(v):
    """Total order over mixed values; floats rounded so that values
    differing only in the last bits sort together."""
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float)):
        f = float(v)
        if math.isnan(f):
            return (2, "nan")
        return (2, float(f"{f:.6g}"))
    if isinstance(v, (dt.date, dt.datetime)):
        return (3, v.isoformat())
    if isinstance(v, tuple):
        return (4, tuple(_sort_key(x) for x in v))
    return (5, str(v))


def _same(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def canonical(rows, cols) -> list[tuple]:
    """Rows with columns in name order, values normalized, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple(_sort_key(v) for v in r))
    return out


def compare(rows_a, cols_a, rows_b, cols_b) -> str | None:
    """None when both results hold the same rows; else why not."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} vs {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"row count {len(rows_a)} vs {len(rows_b)}"
    for ra, rb in zip(canonical(rows_a, cols_a), canonical(rows_b, cols_b)):
        if not _same(ra, rb):
            return f"first differing row {ra!r} vs {rb!r}"
    return None


def duck_connection(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con
