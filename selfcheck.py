"""Mimic the driver's correctness gate locally.

Runs every ``queries()`` entry at sf0.01 (overridable) on Spark AND
its ``oracle_sql()`` in DuckDB over the same parquet, then compares
row count, sorted column names, and an order-insensitive value
comparison (exact for ints/strings/bools/timestamps; floats compared
both exactly and at 1e-9 relative tolerance so any drift is visible
before the driver sees it).

Usage: python selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, bool):
        return bool(v)
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def rows_equal(a, b):
    if len(a) != len(b):
        return False, "row count"
    exact = a == b
    if exact:
        return True, "exact"
    # tolerance pass for floats
    for ra, rb in zip(a, b):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if va != vb and not math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-12):
                    return False, f"float {va!r} != {vb!r}"
            elif va != vb:
                return False, f"{va!r} != {vb!r}"
    return True, "float-tolerant (NOT exact — driver may fail this!)"


def main():
    import __spark_entry__ as entry_mod

    # Result lines start at column 0 even when stdout and stderr share
    # a log file: stdout is line-buffered, and Spark's console progress
    # bar (redrawn with \r on stderr, never newline-terminated) is off.
    sys.stdout.reconfigure(line_buffering=True)
    quiet = {"spark.ui.showConsoleProgress": "false"}
    if os.environ.get("SELFCHECK_VANILLA"):
        # Driver-conditions probe: a bare session with none of our
        # session.py confs (the real driver builds its own session).
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[8]")
                 .config(map=quiet).getOrCreate())
    else:
        from gcp_data_engineering_workshop_spark.session import get_spark
        spark = get_spark("selfcheck", extra_conf=quiet)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle, rows-only)")
            continue
        # GATE-PARITY GUARD (VERDICT r5 #2): the driver canonicalizes
        # with pandas sort_values/factorize, which throws on nested
        # cells — while this script tuples them up (norm_cell) and
        # passes. An oracle-checked query with an array/map/struct
        # output column would therefore pass HERE and burn a red
        # driver row (exactly what embed_docs did in r5). Fail loudly.
        from pyspark.sql import types as ST
        nested = [f.name for f in sdf.schema.fields
                  if isinstance(f.dataType,
                                (ST.ArrayType, ST.MapType, ST.StructType))]
        if nested:
            failures.append(name)
            print(f"FAIL  {name}: nested output column(s) {nested} — the "
                  "driver's canonicalizer cannot hash these; register a "
                  "flat (exploded or string-joined) projection instead")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = [tuple(r) for r in cur.fetchall()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        sc, sr = norm_rows(scols, srows)
        oc, orr = norm_rows(ocols, orows)
        dt = time.time() - t0
        if sc != oc:
            failures.append(name)
            print(f"FAIL  {name}: schema {sc} vs {oc}")
            continue
        if len(sr) != len(orr):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(sr)} vs {len(orr)}")
            continue
        ok, how = rows_equal(sr, orr)
        if ok:
            print(f"OK    {name}: {len(sr)} rows [{how}] ({dt:.1f}s)")
        else:
            failures.append(name)
            print(f"FAIL  {name}: values differ: {how}")
            for i, (x, y) in enumerate(zip(sr, orr)):
                if x != y:
                    print(f"      first diff row {i}:\n        spark={x}\n        duck ={y}")
                    break
    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
