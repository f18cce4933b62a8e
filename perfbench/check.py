"""Result checking: rows from the service or a catalog entry against rows
DuckDB computes over the same files."""

from __future__ import annotations

import datetime
import decimal
import math


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    return v


def _sort_key(row: tuple) -> str:
    # floats rounded so that last-digit summation noise cannot reorder rows
    return repr(tuple(f"{v:.6g}" if isinstance(v, float) else v for v in row))


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            return False
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def rows_match(got, expected, ordered: bool = False) -> bool:
    """Same rows, value by value (floats to 1e-9 relative), in order when
    ``ordered``, else as multisets."""
    g = [tuple(_norm(v) for v in r) for r in got]
    e = [tuple(_norm(v) for v in r) for r in expected]
    if len(g) != len(e):
        return False
    if not ordered:
        g.sort(key=_sort_key)
        e.sort(key=_sort_key)
    return all(_same(x, y) for x, y in zip(g, e))


def duck(tmp_dir: str):
    """An in-memory DuckDB connection that spills only under ``tmp_dir``."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")
    return con
