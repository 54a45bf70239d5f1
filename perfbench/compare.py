"""Order-independent comparison of a program result with DuckDB's.

Both sides are reduced to canonical Python values (numbers, strings,
None, lists; timestamps as `yyyy-mm-dd hh:mm:ss[.ffffff]`), sorted by a
rounded key, and compared pairwise with a 1e-9 relative tolerance on
floating values.
"""
import datetime
import decimal
import math
import os

import duckdb

import datagen


def connect(data):
    """A DuckDB connection with every fixture table as a view of its parquet file."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data, t)}.parquet')")
    return con


def canon(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else str(v).replace("inf", "Infinity").replace("nan", "NaN")
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return str(v.replace(tzinfo=None))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return [canon(x) for x in v.values()]
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _key(v):
    if v is None:
        return (0, "")
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return (1, float(f"{v:.9g}"))
    if isinstance(v, list):
        return (2, tuple(_key(x) for x in v))
    return (3, str(v))


def _same(a, b):
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num) and not isinstance(a, bool) and not isinstance(b, bool):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def diff(cols_a, rows_a, cols_b, rows_b):
    """None when the two results hold the same multiset of rows, else why not.

    Columns are matched by name; rows are sequences in column order.
    """
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} vs {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} rows vs {len(rows_b)}"
    order = sorted(cols_a)
    ia = [cols_a.index(c) for c in order]
    ib = [cols_b.index(c) for c in order]

    def norm(rows, idx):
        out = [[canon(r[i]) for i in idx] for r in rows]
        out.sort(key=lambda r: tuple(_key(x) for x in r))
        return out

    for n, (x, y) in enumerate(zip(norm(rows_a, ia), norm(rows_b, ib))):
        if not _same(x, y):
            return f"row {n}: {x!r:.200} vs {y!r:.200}"
    return None
