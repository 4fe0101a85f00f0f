"""Table catalog over the driver-provided parquet test tables.

Each table file pays parquet schema inference (a one-task Spark job
plus driver time) once: the inferred schema is cached per file
identity and handed to later reads of the same file, which then plan
without a job. The parquet scan still prunes to exactly the referenced
columns (``ReadSchema`` in explain). At 100 TB these tables would be
partitioned/bucketed on their join keys; loaders keep that contract in
one place.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# The driver's parquet timestamp encoding has varied across rounds:
# INT64 TIMESTAMP(NANOS) (Spark reads raw long nanos under
# nanosAsLong) and INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false)
# (TIMESTAMP_NTZ by default). Normalize both to the session-local
# TIMESTAMP type, with the session timezone pinned to UTC so the
# wall-clock fields are preserved and values collect identically to
# the oracle's naive ones. Downstream code (unix_micros, window lag
# arithmetic) requires plain TIMESTAMP.
#
# The NTZ case is handled at the SCAN (inferTimestampNTZ=false makes
# the parquet reader surface the column as TIMESTAMP directly), NOT
# with a .cast("timestamp") projection: a cast on the scan column
# blocks parquet predicate pushdown — measured on Q6, the shipdate
# range filter fell out of PushedFilters entirely and every row
# group would be read at 100 TB.
_NANO_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Inferred schemas keyed on the file's identity (absolute path, size,
# mtime, inode): a rewritten file gets a new key, so its next load
# infers again. Inference reads only the file's footer, under the
# parquet confs load_table pins before every read, so one entry serves
# every session. Bounded: the oldest entry goes first past the cap.
_SCHEMAS: dict[tuple, StructType] = {}
_SCHEMA_CAP = 64


def _file_key(path: str) -> tuple | None:
    """Identity of a regular file, or None (missing path, directory
    dataset) — those always infer."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (os.path.abspath(path), st.st_size, st.st_mtime_ns, st.st_ino)


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one test table as a DataFrame."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    sf_dir = sf_dir or DEFAULT_SF_DIR
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _file_key(path)
    cached = _SCHEMAS.get(key)
    if cached is not None:
        df = spark.read.schema(cached).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key:
            _SCHEMAS[key] = df.schema
            while len(_SCHEMAS) > _SCHEMA_CAP:
                del _SCHEMAS[next(iter(_SCHEMAS))]
    dtypes = dict(df.dtypes)
    for c in _NANO_TS_COLS.get(name, ()):
        # Only nano-precision columns surface as raw longs; micro
        # precision reads as a timestamp already (NTZ included, via
        # inferTimestampNTZ=false above). Integer `div`, not `/`:
        # nano epochs (~1.7e18) overflow a double's 53-bit mantissa,
        # so float division would corrupt the low digits.
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str | None = None,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Load several tables at once: {name: DataFrame}."""
    return {n: load_table(spark, n, sf_dir) for n in names}
