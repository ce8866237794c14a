"""Result canonicalisation and the DuckDB oracle for the pipeline queries.

A result is reduced to a digest that does not depend on column order,
row order or the Python type an engine hands back: columns sorted by
name, each cell stringified (floats through `round(x, 9)`, the
queries' own pre-rounding contract), rows sorted. Spark's collected
rows and DuckDB's fetched tuples give the same digest exactly when
they hold the same values.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os


def _cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(round(f, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result set (Spark Rows or tuples)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e")
        h.update(line.encode())
    return f"{len(lines)}:{h.hexdigest()[:16]}"


def oracle_digests(data_dir: str, tables, queries: dict[str, str]) -> dict[str, str]:
    """Run each oracle SQL over the parquet files in `data_dir`."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {os.cpu_count() or 1}")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sql in queries.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = digest(cols, cur.fetchall())
        return out
    finally:
        con.close()
