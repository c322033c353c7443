"""Order-insensitive result fingerprints and the DuckDB reference engine.

A result is reduced to ``(row count, sha256 of its sorted canonical rows)``.
Canonical values ignore representation differences between the engines and
the served JSON (which stringifies most values): every number becomes its
9-significant-digit form, dates and timestamps their ISO text, nested values
tuples, and columns are taken in name order.
"""

from __future__ import annotations

import datetime
import hashlib
import os
from decimal import Decimal


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, (int, float, Decimal)):
        return _num(float(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, str):
        try:
            return _num(float(v))
        except ValueError:
            return v
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def _num(x: float) -> str:
    if x != x:
        return "nan"
    return f"{x:.9g}"


def fingerprint(columns: list[str], rows) -> tuple[int, str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(repr(tuple(canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    h.update(repr([columns[i] for i in order]).encode())
    for line in body:
        h.update(line.encode())
    return len(body), h.hexdigest()


def fingerprint_json(columns: list[str], data: list[dict]) -> tuple[int, str]:
    """Fingerprint of a served answer (``columns`` + list of row dicts)."""
    return fingerprint(columns, [tuple(row[c] for c in columns) for row in data])


def duckdb_views(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def duckdb_fingerprint(con, sql: str) -> tuple[int, str]:
    cur = con.execute(sql)
    return fingerprint([d[0] for d in cur.description], cur.fetchall())
