"""Order-insensitive result digests and the DuckDB oracle.

A digest is ``(row count, sha256 of the sorted normalized rows)``.
Columns are taken in name order and floats are rounded to 9
significant digits, so engine-level float drift below that does not
count as a difference. Oracle digests are cached on disk under the
checkout, keyed by the SQL text and the bytes of the input tables.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os

from perfbench.common import STATE_DIR


def _cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return float(f"{f:.9g}") + 0.0
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _cell(x) for k, x in sorted(v.items())}
    if hasattr(v, "asDict"):
        return _cell(v.asDict())
    return v


def digest(cols, rows) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(json.dumps([_cell(r[i]) for i in order], default=str)
                  for r in rows)
    h = hashlib.sha256()
    h.update(json.dumps(sorted(cols)).encode())
    for line in norm:
        h.update(line.encode())
        h.update(b"\n")
    return len(norm), h.hexdigest()


def spark_digest(df) -> tuple[int, str]:
    return digest(df.columns, [tuple(r) for r in df.collect()])


def _file_sha(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def duckdb_conn(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(STATE_DIR, 'duckdb')}'")
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, f)}')")
    return con


def oracle_digest(sf_dir: str, sql: str) -> tuple[int, str]:
    """Digest of ``sql`` run on DuckDB over the parquet tables in
    ``sf_dir``; cached per (SQL, input bytes)."""
    key = hashlib.sha256(sql.encode())
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            key.update(f.encode())
            key.update(_file_sha(os.path.join(sf_dir, f)).encode())
    cache = os.path.join(STATE_DIR, "oracle-cache", key.hexdigest() + ".json")
    if os.path.exists(cache):
        with open(cache) as fh:
            n, h = json.load(fh)
        return n, h
    con = duckdb_conn(sf_dir)
    try:
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out = digest(cols, cur.fetchall())
    finally:
        con.close()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    tmp = cache + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(list(out), fh)
    os.replace(tmp, cache)
    return out
