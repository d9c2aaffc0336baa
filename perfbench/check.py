"""Result checks: the row comparator and the DuckDB oracle.

Rows compare order-insensitively, column-name-sorted and dtype-strict
(``6`` never equals ``6.0``). Floats compare exactly unless a column is
named in ``rel_tol``, which is reserved for sums and averages whose
accumulation order differs between the engine and the reference.
"""

from __future__ import annotations

import datetime as _dt
import math
import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, float):
        return ("float", "NaN") if math.isnan(v) else ("float", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return ("ts", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_norm(x) for x in v))
    if hasattr(v, "asDict"):
        return ("row", tuple(sorted((k, _norm(x)) for k, x in v.asDict().items())))
    return (type(v).__name__, v)


def _close(a, b, tol: float) -> bool:
    if a[0] != "float" or b[0] != "float":
        return a == b
    if isinstance(a[1], str) or isinstance(b[1], str):
        return a == b
    return abs(a[1] - b[1]) <= tol * max(1.0, abs(a[1]), abs(b[1]))


def compare(cols_a, rows_a, cols_b, rows_b, rel_tol=None) -> str | None:
    """Compare two result sets; return None when they match, else a short
    description of the first difference. ``rows_*`` are sequences of
    tuples in the order of ``cols_*``."""
    rel_tol = rel_tol or {}
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} != {sorted(cols_b)}"
    order = sorted(cols_a)
    ia = [list(cols_a).index(c) for c in order]
    ib = [list(cols_b).index(c) for c in order]
    tols = [rel_tol.get(c) for c in order]

    def canon(rows, idx):
        out = []
        for r in rows:
            out.append(tuple(_norm(r[i]) for i in idx))
        # approximate columns must not decide the sort order
        return sorted(out, key=lambda t: repr(tuple(
            x for x, tol in zip(t, tols) if tol is None)) + repr(t))

    a, b = canon(rows_a, ia), canon(rows_b, ib)
    if len(a) != len(b):
        return f"row count {len(a)} != {len(b)}"
    for ra, rb in zip(a, b):
        for c, x, y, tol in zip(order, ra, rb, tols):
            ok = x == y if tol is None else _close(x, y, tol)
            if not ok:
                return f"column {c}: {x} != {y}"
    return None


def oracle_connection(data_dir: str):
    """A DuckDB connection with one view per table file in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_rows(con, sql: str):
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()
