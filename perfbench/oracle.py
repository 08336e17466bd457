"""Expected results: DuckDB over the generated parquet, and a result canon.

Both engines' rows are reduced to one canonical form before comparison, so
a value's type may differ between them (``Decimal('3.00')``, ``3.0`` and
``3`` are equal) while its value may not.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
import os

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_value(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if f.is_integer() and abs(f) < 1e15:
            return str(int(f))
        return "%.12g" % f
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [canon_value(x) for x in v]
    if isinstance(v, dict):
        return sorted([canon_value(k), canon_value(x)] for k, x in v.items())
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        return canon_value(v.tolist())
    return str(v)


def canon_rows(rows, ordered: bool) -> list:
    """Rows (sequences of values) as JSON-able canonical rows; unordered
    results are sorted so that they compare as multisets."""
    out = [[canon_value(v) for v in r] for r in rows]
    if not ordered:
        out.sort(key=lambda r: json.dumps(r))
    return out


def canon_named(columns: list[str], rows, ordered: bool = False) -> dict:
    """Canonical form of a named result: columns sorted by name, so column
    order may differ between engines but names may not."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return {
        "columns": [columns[i] for i in order],
        "rows": canon_rows(([r[i] for i in order] for r in rows), ordered),
    }


def duck_connect(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    # PostgreSQL null ordering: NULLS LAST on ASC, NULLS FIRST on DESC.
    con.execute("SET default_null_order='nulls_last_on_asc_first_on_desc'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def duck_named(con, sql: str) -> dict:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return canon_named(cols, cur.fetchall())


def duck_rows(con, sql: str, ordered: bool) -> list:
    return canon_rows(con.execute(sql).fetchall(), ordered)
