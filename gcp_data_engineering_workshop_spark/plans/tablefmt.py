"""E22 driver-oracle queries: the transaction-log table format
exercised END-TO-END against plain-SQL oracles (new r10; seventeen
keys as of r13, from the original three up through
txlog_checkpoint_scan).

The txlog layer was pytest-only evidence until r10 — these queries
put the format itself under the driver's rows/schema/
value-hash gate by building a REAL table from the test data inside
the query, running the table op, and reading the result back
through the log. The founding three:

- txlog_range_scan: append -> read_range (read-side data skipping)
  == a plain BETWEEN filter over the source table;
- txlog_change_feed: three versioned appends -> read_changes(from=1)
  == the deterministic slice rule with version/op tags;
- txlog_merge_scan: append -> merge_upsert (file-granular MERGE
  through footer-stat pruning + CAS commit) -> read == B28's
  full-outer-join merge semantics, decimal-exact.

Each call builds its table under a fresh tempdir (the driver runs
queries in one process; isolation keeps re-runs and bench repeats
independent). Timestamps stay out of the column set — the oracle
compares primitives only, the same discipline as B28.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_data_engineering_workshop_spark.catalog import load_table
from gcp_data_engineering_workshop_spark.sources import txlog as T

_DEC = "decimal(18,4)"


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")


def txlog_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 read path under the oracle gate: orders lands as four
    commits, read_range scans [1000, 5000] with footer-stat data
    skipping — the result must equal a plain BETWEEN over the
    source (the mod-4 slicing interleaves key ranges, so pruning
    potency is ~nil here BY DESIGN; this key proves exactness, the
    skipping pytests prove the IO savings)."""
    root = tempfile.mkdtemp(prefix="txlog_range_") + "/t"
    orders = _orders(spark, sf_dir)
    T.append_sliced(orders, root, "o_orderkey % 4", 4,
                    checkpoint_every=0)
    return (T.read_range(spark, root, "o_orderkey",
                         lo=1000, hi=5000)
            .orderBy("o_orderkey"))


def txlog_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 change feed under the oracle gate: three versioned
    appends sliced by o_orderkey % 3 (slice b commits as version
    b + 1), then read_changes(from_version=1) — exactly the rows of
    slices 1 and 2, tagged with their commit version and op."""
    root = tempfile.mkdtemp(prefix="txlog_cdf_") + "/t"
    orders = _orders(spark, sf_dir)
    T.append_sliced(orders, root, "o_orderkey % 3", 3,
                    checkpoint_every=0)
    return (T.read_changes(spark, root, from_version=1)
            .orderBy("o_orderkey"))


def txlog_merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 MERGE under the oracle gate: orders lands as four
    range-interleaved commits, B28's deterministic update batch
    (every 97th order re-priced +10% and flagged 'X', one synthetic
    insert) applies through the REAL file-granular merge_upsert
    (footer-stat pruning, anti-join + union rewrite, CAS commit),
    and the snapshot reads back — equal to the full-outer-join
    merge semantics B28's oracle states, decimal-exact.

    r11: the merge key is the COMPOSITE (o_orderkey, o_custkey) —
    every update row carries its order's true custkey, so the match
    set is unchanged vs the single-key r10 query (o_orderkey is
    unique), but the query now exercises the conjunctive
    per-column pruning path end-to-end (VERDICT r11 task #3)."""
    root = tempfile.mkdtemp(prefix="txlog_merge_") + "/t"
    orders = _orders(spark, sf_dir)
    T.append_sliced(orders, root, "o_orderkey % 4", 4,
                    checkpoint_every=0)
    updates = (
        orders.where(F.col("o_orderkey") % 97 == 0)
        .select("o_orderkey", "o_custkey",
                F.lit("X").alias("o_orderstatus"),
                (F.col("o_totalprice").cast(_DEC)
                 * F.lit(1.1).cast(_DEC))
                .cast("double").alias("o_totalprice"),
                "o_orderpriority"))
    new_row = spark.createDataFrame(
        [(999999999, 1, "N", 123.45, "1-URGENT")],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderpriority string")
    T.merge_upsert(spark, root, updates.unionByName(new_row),
                   ["o_orderkey", "o_custkey"], checkpoint_every=0)
    return T.read(spark, root).orderBy("o_orderkey")


def txlog_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 MERGE-DELETE under the oracle gate (new r11): orders
    lands as four range-interleaved commits, then a WHEN MATCHED
    DELETE merge removes every 31st order (plus one key that
    matches nothing — a provable no-op that must not commit), and
    the snapshot reads back — equal to a plain NOT-filter over the
    source. The delete runs at file granularity through the same
    footer-stat pruning as the upsert."""
    root = tempfile.mkdtemp(prefix="txlog_del_") + "/t"
    orders = _orders(spark, sf_dir)
    T.append_sliced(orders, root, "o_orderkey % 4", 4,
                    checkpoint_every=0)
    keys = (orders.where(F.col("o_orderkey") % 31 == 0)
            .select("o_orderkey"))
    T.merge_delete(spark, root, keys, "o_orderkey",
                   checkpoint_every=0)
    miss = spark.createDataFrame([(999999999,)], "o_orderkey bigint")
    v = T.snapshot(root)["version"]
    assert T.merge_delete(spark, root, miss, "o_orderkey") == v
    return T.read(spark, root).orderBy("o_orderkey")


def txlog_dv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 DELETION VECTORS under the oracle gate (new r11, third
    stint): orders lands as four range-interleaved commits, then
    all three merge-on-read DML verbs run in ``mode="dv"`` — DELETE
    every 13th order, UPDATE cheap orders (double the price, flag
    'V'; only the updated rows are written, the old positions
    vector out on files ALREADY carrying the delete's vectors — the
    accumulation path), and a by-key MERGE-DELETE of every 41st
    order. No original data file is ever rewritten (asserted). The
    final read_where composes footer-stat skipping with the vector
    anti-joins and must equal plain CASE-WHEN + NOT-filter SQL over
    the source — merge-on-read semantics match copy-on-write
    exactly. Doubling a double is exact (exponent bump), the same
    decimal discipline as txlog_update_scan."""
    root = tempfile.mkdtemp(prefix="txlog_dv_") + "/t"
    orders = _orders(spark, sf_dir)
    T.append_sliced(orders, root, "o_orderkey % 4", 4,
                    checkpoint_every=0)
    files0 = set(T.snapshot(root)["files"])
    T.delete_where(spark, root, "o_orderkey % 13 = 0", mode="dv",
                   checkpoint_every=0)
    T.update_where(spark, root, "o_totalprice < 2000",
                   {"o_totalprice": "o_totalprice * 2",
                    "o_orderstatus": "'V'"},
                   mode="dv", checkpoint_every=0)
    T.merge_delete(spark, root,
                   orders.where(F.col("o_orderkey") % 41 == 0)
                   .select("o_orderkey"),
                   "o_orderkey", mode="dv", checkpoint_every=0)
    assert files0 <= set(T.snapshot(root)["files"]), \
        "merge-on-read DML must not rewrite any original data file"
    return (T.read_where(spark, root, "o_orderkey > 100")
            .orderBy("o_orderkey"))


def txlog_cdf_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 ROW-LEVEL change feed under the oracle gate (new r11,
    third stint): three versioned appends, then a dv-mode DELETE of
    every 17th order and a dv-mode UPDATE doubling cheap orders —
    read_changes_rows(from_version=0) must reconstruct the exact
    Delta-CDF row set: every append row tagged insert, exactly the
    deleted rows tagged delete, and the update's old/new images as
    update_preimage/update_postimage (possible because deletion
    vectors are row tracking for the rows they cover). Equals a
    four-branch UNION ALL over the source."""
    root = tempfile.mkdtemp(prefix="txlog_cdfr_") + "/t"
    orders = _orders(spark, sf_dir)
    T.append_sliced(orders, root, "o_orderkey % 3", 3,
                    checkpoint_every=0)
    T.delete_where(spark, root, "o_orderkey % 17 = 0", mode="dv",
                   checkpoint_every=0)
    T.update_where(spark, root, "o_totalprice < 1500",
                   {"o_totalprice": "o_totalprice * 2"},
                   mode="dv", checkpoint_every=0)
    return (T.read_changes_rows(spark, root, from_version=0)
            .orderBy("o_orderkey", "_commit_version",
                     "_change_type"))


def txlog_replica_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 CDF-driven replication under the oracle gate (new r11,
    third stint): orders lands in a SOURCE table, and
    replicate_incremental maintains an exact replica through the
    row-level feed — run TWICE so the second window starts at the
    replica's txn watermark: first after two appends, then after a
    third append plus a dv-mode DELETE (every 19th order) and a
    dv-mode UPDATE (double cheap orders). The second sync runs the
    r12 LONG-WINDOW COLLAPSE path (collapse_after=0: latest-change-
    per-key, ONE merge_delete + ONE merge_upsert) so the collapsed
    application is itself under the driver's hash gate. Reading the
    REPLICA back must equal CASE-WHEN + NOT-filter SQL over the
    source — the destination never saw the source's files, only
    typed change rows applied as merges."""
    src = tempfile.mkdtemp(prefix="txlog_repl_") + "/src"
    dst = tempfile.mkdtemp(prefix="txlog_repl_") + "/dst"
    orders = _orders(spark, sf_dir)
    T.append_sliced(orders.where(F.col("o_orderkey") % 3 < 2),
                    src, "o_orderkey % 3", 2,
                    checkpoint_every=0)
    T.replicate_incremental(spark, src, dst, "o_orderkey",
                            checkpoint_every=0)
    T.append(orders.where(F.col("o_orderkey") % 3 == 2),
             src, checkpoint_every=0)
    T.delete_where(spark, src, "o_orderkey % 19 = 0", mode="dv",
                   checkpoint_every=0)
    T.update_where(spark, src, "o_totalprice < 1200",
                   {"o_totalprice": "o_totalprice * 2"},
                   mode="dv", checkpoint_every=0)
    T.replicate_incremental(spark, src, dst, "o_orderkey",
                            checkpoint_every=0, collapse_after=0)
    assert T.replicate_incremental(spark, src, dst, "o_orderkey",
                                   checkpoint_every=0) is None
    return T.read(spark, dst).orderBy("o_orderkey")


def txlog_rename_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 COLUMN MAPPING under the oracle gate (new r11, third
    stint): orders lands, o_totalprice RENAMES to price and
    o_orderpriority DROPS — both single metadata commits, zero
    bytes rewritten (asserted on the live file set) — then an
    append arrives under the NEW logical schema (written physically
    under the original name), predicate UPDATE and DELETE run
    against the renamed column (stat pruning translates
    logical->physical), and read_where scans with a residual bound
    on it. Equals CASE-WHEN + NOT-filter SQL with the rename as a
    projection alias."""
    root = tempfile.mkdtemp(prefix="txlog_ren_") + "/t"
    orders = _orders(spark, sf_dir)
    T.append(orders.where(F.col("o_orderkey") % 2 == 0), root,
             checkpoint_every=0)
    files0 = set(T.snapshot(root)["files"])
    T.rename_column(root, "o_totalprice", "price",
                    checkpoint_every=0)
    T.drop_column(root, "o_orderpriority", checkpoint_every=0)
    assert set(T.snapshot(root)["files"]) == files0, \
        "rename/drop must not touch any data file"
    T.append(orders.where(F.col("o_orderkey") % 2 == 1)
             .withColumnRenamed("o_totalprice", "price")
             .drop("o_orderpriority"), root, checkpoint_every=0)
    T.update_where(spark, root, "price < 1000",
                   {"price": "price * 2"}, checkpoint_every=0)
    T.delete_where(spark, root, "o_orderkey % 23 = 0",
                   checkpoint_every=0)
    return (T.read_where(spark, root, "price >= 500")
            .orderBy("o_orderkey"))


def txlog_replace_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 replaceWhere under the oracle gate (new r11, third
    stint): orders lands as four range-interleaved commits, then
    overwrite_where replaces the scope o_orderstatus = 'P' with a
    deterministic re-landing of those rows (prices doubled, urgent
    priority) — survivors of the touched files carry, every other
    file rides verbatim (file granularity pytest-pinned; here the
    oracle pins exactness). Equals scope-union SQL: non-P rows
    verbatim UNION the transformed P slice."""
    root = tempfile.mkdtemp(prefix="txlog_repw_") + "/t"
    orders = _orders(spark, sf_dir)
    T.append_sliced(orders, root, "o_orderkey % 4", 4,
                    checkpoint_every=0)
    repl = (orders.where(F.col("o_orderstatus") == "P")
            .select("o_orderkey", "o_custkey", "o_orderstatus",
                    (F.col("o_totalprice") * 2).alias("o_totalprice"),
                    F.lit("1-URGENT").alias("o_orderpriority")))
    T.overwrite_where(spark, repl, root, "o_orderstatus = 'P'",
                      checkpoint_every=0)
    return T.read(spark, root).orderBy("o_orderkey")


def txlog_generated_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 GENERATED COLUMNS under the oracle gate (new r11, third
    stint): the table declares a generated PARTITION column
    (bucket = o_orderkey % 7) that no writer ever supplies — both
    appends land just the base columns and the column computes,
    laying out hive partitions. An UPDATE then shifts cheap orders'
    keys, and the generated column RECOMPUTES on the post-update
    rows. The final read_where prunes on the generated partition
    column and must equal CASE-WHEN + modulo SQL."""
    root = tempfile.mkdtemp(prefix="txlog_gen_") + "/t"
    orders = _orders(spark, sf_dir)
    T.append(orders.where(F.col("o_orderkey") % 2 == 0), root,
             partition_by=["bucket"],
             generated={"bucket": "o_orderkey % 7"},
             checkpoint_every=0)
    T.append(orders.where(F.col("o_orderkey") % 2 == 1), root,
             checkpoint_every=0)
    T.update_where(spark, root, "o_totalprice < 1000",
                   {"o_orderkey": "o_orderkey + 1000000000"},
                   checkpoint_every=0)
    return (T.read_where(spark, root, "bucket = 3")
            .orderBy("o_orderkey", "o_custkey"))


def dedup_corpus_inplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C22 x E22 bridge (new r11, third stint): near-dup REMOVAL
    IN PLACE on the lakehouse table — the documents corpus lands as
    a txlog table, the verified near-linear dedup pipeline (LSH
    candidates -> connected components -> non-canonical members)
    computes the drop list FROM THE TABLE, and a merge-on-read
    by-key delete marks those rows in a deletion-vector sidecar —
    ZERO data files rewritten (asserted: no new paths). Deduping a
    100 TB corpus costs the dedup compute plus megabytes of
    vectors; the table reads back identical to C22's dedup_corpus
    and hash-matches the same recursive-CTE DuckDB oracle."""
    from gcp_data_engineering_workshop_spark.operators.dedup import (
        minhash_lsh_pairs)
    from gcp_data_engineering_workshop_spark.operators.graph import (
        connected_components)
    from gcp_data_engineering_workshop_spark.catalog import load_table

    root = tempfile.mkdtemp(prefix="txlog_dedup_") + "/docs"
    T.append(load_table(spark, "documents", sf_dir), root,
             checkpoint_every=0)
    files0 = set(T.snapshot(root)["files"])
    d = T.read(spark, root)
    comp = connected_components(minhash_lsh_pairs(d, tau=0.9))
    drop = (comp.where(F.col("doc_id") != F.col("component"))
            .select("doc_id"))
    T.merge_delete(spark, root, drop, "doc_id", mode="dv",
                   checkpoint_every=0)
    assert set(T.snapshot(root)["files"]) <= files0, \
        "in-place dedup must not write any new data file"
    return (T.read(spark, root).select("doc_id", "lang")
            .orderBy("doc_id"))


def txlog_update_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 predicate DML under the oracle gate (new r11): orders
    lands as four range-interleaved commits, then

    - UPDATE ... SET o_orderstatus = 'U',
      o_totalprice = o_totalprice * 2 WHERE o_totalprice < 1000
      AND o_orderpriority = '1-URGENT' (assignments evaluate
      against the OLD row; the conjunctive predicate exercises the
      stat parser, the two-phase hit scan picks the files), then
    - DELETE WHERE o_orderkey <= 500 (footer-range pruning), then
    - a provably-missing DELETE (o_orderkey > 10**12) that must
      commit NO version,

    and the snapshot reads back — equal to a CASE-WHEN + NOT-filter
    over the source. Doubling o_totalprice is exact in binary
    floating point (exponent bump), so the oracle compares without
    decimal scaffolding."""
    root = tempfile.mkdtemp(prefix="txlog_upd_") + "/t"
    orders = _orders(spark, sf_dir)
    T.append_sliced(orders, root, "o_orderkey % 4", 4,
                    checkpoint_every=0)
    T.update_where(
        spark, root,
        "o_totalprice < 1000 AND o_orderpriority = '1-URGENT'",
        {"o_orderstatus": "'U'", "o_totalprice": "o_totalprice * 2"},
        checkpoint_every=0)
    T.delete_where(spark, root, "o_orderkey <= 500",
                   checkpoint_every=0)
    v = T.snapshot(root)["version"]
    assert T.delete_where(spark, root, "o_orderkey > 1000000000000") == v
    return T.read(spark, root).orderBy("o_orderkey")


def txlog_partition_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 hive-partitioned layout under the oracle gate (new r11):
    orders lands partitioned by o_orderstatus (two range-interleaved
    appends, the second inheriting the recorded spec), then
    read_where scans one partition with a residual totalprice bound
    — partition pruning (exact [v,v] stats from the directory
    tokens) plus footer-range skipping, equal to a plain conjunctive
    filter over the source. Column order is the recorded schema's
    (partition discovery appends columns; read() projects back)."""
    root = tempfile.mkdtemp(prefix="txlog_part_") + "/t"
    orders = _orders(spark, sf_dir)
    T.append(orders.where(F.col("o_orderkey") % 2 == 0), root,
             partition_by=["o_orderstatus"], checkpoint_every=0)
    T.append(orders.where(F.col("o_orderkey") % 2 == 1), root,
             checkpoint_every=0)
    return (T.read_where(
        spark, root,
        "o_orderstatus = 'F' AND o_totalprice < 150000")
        .orderBy("o_orderkey"))


def txlog_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 batch-incremental refresh under the oracle gate (new
    r11): orders lands in a SOURCE table as three versioned
    appends; refresh_incremental runs TWICE — once after the first
    two commits, once after the third — so the second run's window
    starts at the destination's txn watermark. The transformation
    keeps urgent orders and projects the base columns; a third
    refresh call must no-op. The destination reads back equal to a
    plain filter over the source — exactly-once composition of the
    change feed, the txn watermark, and the stream sink."""
    src = tempfile.mkdtemp(prefix="txlog_incr_") + "/src"
    dst = tempfile.mkdtemp(prefix="txlog_incr_") + "/dst"
    orders = _orders(spark, sf_dir)
    fn = (lambda d: d.where(
        F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_custkey", "o_orderstatus",
                "o_totalprice", "o_orderpriority"))
    T.append(orders.where(F.col("o_orderkey") % 3 == 0), src,
             checkpoint_every=0)
    T.append(orders.where(F.col("o_orderkey") % 3 == 1), src,
             checkpoint_every=0)
    T.refresh_incremental(spark, src, dst, fn, checkpoint_every=0)
    T.append(orders.where(F.col("o_orderkey") % 3 == 2), src,
             checkpoint_every=0)
    T.refresh_incremental(spark, src, dst, fn, checkpoint_every=0)
    assert T.refresh_incremental(spark, src, dst, fn,
                                 checkpoint_every=0) is None
    return T.read(spark, dst).orderBy("o_orderkey")


TXLOG_RANGE_SCAN_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderpriority
FROM orders
WHERE o_orderkey BETWEEN 1000 AND 5000
ORDER BY o_orderkey
"""

TXLOG_CHANGE_FEED_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderpriority,
       CAST((o_orderkey % 3) + 1 AS INTEGER) AS _commit_version,
       'append' AS _commit_op
FROM orders
WHERE (o_orderkey % 3) >= 1
ORDER BY o_orderkey
"""

TXLOG_MERGE_SCAN_SQL = """
WITH updates AS (
  SELECT o_orderkey, o_custkey,
         'X' AS o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,4))
              * CAST(1.1 AS DECIMAL(18,4)) AS DOUBLE) AS o_totalprice,
         o_orderpriority
  FROM orders WHERE o_orderkey % 97 = 0
  UNION ALL
  SELECT 999999999, 1, 'N', 123.45, '1-URGENT'
)
SELECT coalesce(u.o_orderkey, o.o_orderkey) AS o_orderkey,
       coalesce(u.o_custkey, o.o_custkey) AS o_custkey,
       coalesce(u.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
       coalesce(u.o_totalprice, o.o_totalprice) AS o_totalprice,
       coalesce(u.o_orderpriority, o.o_orderpriority)
         AS o_orderpriority
FROM orders o FULL OUTER JOIN updates u
  ON o.o_orderkey = u.o_orderkey AND o.o_custkey = u.o_custkey
ORDER BY o_orderkey
"""

TXLOG_DELETE_SCAN_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderpriority
FROM orders
WHERE o_orderkey % 31 <> 0
ORDER BY o_orderkey
"""

TXLOG_INCREMENTAL_SCAN_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderpriority
FROM orders
WHERE o_orderpriority = '1-URGENT'
ORDER BY o_orderkey
"""

TXLOG_PARTITION_SCAN_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderpriority
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice < 150000
ORDER BY o_orderkey
"""

TXLOG_DV_SCAN_SQL = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_totalprice < 2000 THEN 'V'
            ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN o_totalprice < 2000 THEN o_totalprice * 2
            ELSE o_totalprice END AS o_totalprice,
       o_orderpriority
FROM orders
WHERE o_orderkey % 13 <> 0
  AND o_orderkey % 41 <> 0
  AND o_orderkey > 100
ORDER BY o_orderkey
"""

TXLOG_CDF_ROWS_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderpriority,
       CAST((o_orderkey % 3) + 1 AS INTEGER) AS _commit_version,
       'append' AS _commit_op, 'insert' AS _change_type
FROM orders
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderpriority, 4, 'delete', 'delete'
FROM orders WHERE o_orderkey % 17 = 0
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderpriority, 5, 'update', 'update_preimage'
FROM orders
WHERE o_orderkey % 17 <> 0 AND o_totalprice < 1500
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2,
       o_orderpriority, 5, 'update', 'update_postimage'
FROM orders
WHERE o_orderkey % 17 <> 0 AND o_totalprice < 1500
ORDER BY o_orderkey, _commit_version, _change_type
"""

TXLOG_REPLICA_SCAN_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_totalprice < 1200 THEN o_totalprice * 2
            ELSE o_totalprice END AS o_totalprice,
       o_orderpriority
FROM orders
WHERE o_orderkey % 19 <> 0
ORDER BY o_orderkey
"""

TXLOG_RENAME_SCAN_SQL = """
WITH renamed AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_totalprice < 1000 THEN o_totalprice * 2
              ELSE o_totalprice END AS price
  FROM orders
  WHERE o_orderkey % 23 <> 0
)
SELECT o_orderkey, o_custkey, o_orderstatus, price
FROM renamed
WHERE price >= 500
ORDER BY o_orderkey
"""

TXLOG_REPLACE_SCAN_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderpriority
FROM orders
WHERE o_orderstatus <> 'P'
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2,
       '1-URGENT'
FROM orders
WHERE o_orderstatus = 'P'
ORDER BY o_orderkey
"""

TXLOG_GENERATED_SCAN_SQL = """
WITH upd AS (
  SELECT CASE WHEN o_totalprice < 1000
              THEN o_orderkey + 1000000000
              ELSE o_orderkey END AS o_orderkey,
         o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderpriority, o_orderkey % 7 AS bucket
FROM upd
WHERE o_orderkey % 7 = 3
ORDER BY o_orderkey, o_custkey
"""

TXLOG_UPDATE_SCAN_SQL = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_totalprice < 1000
                 AND o_orderpriority = '1-URGENT'
            THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN o_totalprice < 1000
                 AND o_orderpriority = '1-URGENT'
            THEN o_totalprice * 2 ELSE o_totalprice END
         AS o_totalprice,
       o_orderpriority
FROM orders
WHERE NOT (o_orderkey <= 500)
ORDER BY o_orderkey
"""


def txlog_backfill_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 bloom BACK-FILL under the oracle gate (new r12, VERDICT
    r11 #3): orders lands as EIGHT hash-sliced appends (every
    file's o_orderkey footer range spans nearly the whole domain,
    so ranges alone cannot prune a point lookup), the bloom index
    is declared AFTER the data exists, and backfill_bloom_index
    builds consolidated sidecars WITHOUT rewriting anything —
    asserted in-query: the live file set is unchanged, the
    back-fill commit removes zero files, and a point lookup's
    candidate set collapses from all 8 files to <= 3. Twenty-five
    scattered point lookups then union to exactly the IN-list SQL
    (keys missing at small SFs contribute zero rows on BOTH
    engines)."""
    root = tempfile.mkdtemp(prefix="txlog_bf_") + "/t"
    orders = _orders(spark, sf_dir)
    T.append_sliced(orders, root, "o_orderkey % 8", 8,
                    checkpoint_every=0)
    files0 = set(T.snapshot(root)["files"])
    T.set_bloom_index(root, ["o_orderkey"], checkpoint_every=0)
    T.backfill_bloom_index(spark, root, checkpoint_every=0)
    assert set(T.snapshot(root)["files"]) == files0, \
        "back-fill must not touch any data file"
    h = T.history(root)[-1]
    assert h["op"] == "bloom-backfill" and h["n_remove"] == 0, h
    keys = _BACKFILL_KEYS
    cand = T._files_possibly_matching(
        T.snapshot(root),
        T._parse_conjuncts(f"o_orderkey = {keys[0]}"), root)
    assert len(cand) <= 3, (len(cand), "bloom back-fill must prune "
                            "the hash-scattered point lookup")
    out = None
    for k in keys:
        part = T.read_where(spark, root, f"o_orderkey = {k}")
        out = part if out is None else out.unionByName(part)
    return out.orderBy("o_orderkey")


_BACKFILL_KEYS = list(range(1, 2075, 83))

TXLOG_BACKFILL_SCAN_SQL = f"""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderpriority
FROM orders
WHERE o_orderkey IN ({", ".join(str(k) for k in _BACKFILL_KEYS)})
ORDER BY o_orderkey
"""


def txlog_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 BATCH FORMAT under the oracle gate (new r12): the table
    read as a NATIVE Spark source — spark.read.format("txlog") —
    with Catalyst filter pushdown planning the file skipping.

    orders lands as four CONTIGUOUS o_orderkey ranges via the
    NATIVE WRITER — df.write.format("txlog").mode("append") — (so
    both halves of the source sit under the gate: arrow-task
    staging + CAS commit on the way in, pushed-filter planning on
    the way out), a dv-mode DELETE marks every o_orderkey % 10 = 3
    row (vectors must mask through the format's executor-side
    read), and o_custkey RENAMES to custkey (the format must
    project the colmap). The query is then plain DataFrame code —
    .where() on the format scan — and the pushed conjuncts must
    plan exactly ONE of the four files (asserted in-query via the
    reader's survivor set). Equal to the residual SQL over the
    source table."""
    from pyspark.sql.datasource import (EqualTo, GreaterThanOrEqual,
                                        LessThan)

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    T.register(spark)
    root = tempfile.mkdtemp(prefix="txlog_pd_") + "/t"
    orders = _orders(spark, sf_dir)
    bounds = [(0, 1000), (1000, 2000), (2000, 3000), (3000, None)]
    # r16 (VERDICT r15 #5): ONE native write job instead of four
    # sequential ones — each range slice coalesces to one partition
    # and the union concatenates partitions, so the single
    # df.write.format("txlog") job runs four arrow tasks, each
    # staging exactly one file whose footer stats cover one
    # contiguous o_orderkey range, and lands ONE CAS commit. Same
    # four range-partitioned files, same native-writer surface
    # (arrow-task staging + commit) under the gate; 4 scans + 4
    # write jobs + 4 commits -> one parallel job + 1 commit.
    # Spark 4's UnionExec merges children that all report
    # SinglePartition (spark.sql.unionOutputPartitioning, default
    # true) — that would fuse the four slices into ONE file and
    # silently void the pruning contract, so it is disabled for
    # this write only and restored (the four-file assert below
    # would catch any engine change here).
    staged = None
    for lo, hi in bounds:
        part = orders.where(F.col("o_orderkey") >= lo)
        if hi is not None:
            part = part.where(F.col("o_orderkey") < hi)
        part = part.coalesce(1)
        staged = part if staged is None else staged.unionByName(part)
    _UOP = "spark.sql.unionOutputPartitioning"
    _uop_prev = spark.conf.get(_UOP, None)
    spark.conf.set(_UOP, "false")
    try:
        staged.write.format("txlog").mode("append") \
            .option("checkpoint_every", "0").save(root)
    finally:
        if _uop_prev is None:
            spark.conf.unset(_UOP)
        else:
            spark.conf.set(_UOP, _uop_prev)
    # belt-and-braces for the staged shape: every landed file must
    # sit inside ONE range slice (a merged file would span two and
    # void the pruning contract); empty slices at tiny SFs simply
    # land no file, exactly like the old empty append commits
    _fmeta = T.snapshot(root)["files"]
    assert 0 < len(_fmeta) <= len(bounds), _fmeta
    for _p, _m in dict(_fmeta).items():
        _mn, _mx = _m["stats"]["o_orderkey"]
        assert min(int(_mn) // 1000, 3) == min(int(_mx) // 1000, 3), \
            ("staged native write merged two range slices", _p, _mn, _mx)
    T.delete_where(spark, root, "o_orderkey % 10 = 3", mode="dv")
    T.rename_column(root, "o_custkey", "custkey")
    # plan-level contract: the pushed range + status conjuncts keep
    # exactly the [1000, 2000) file of the four
    snap = T.snapshot(root)
    import json as _json
    from pyspark.sql.types import StructType as _ST
    rdr = T.TxLogBatchReader(
        {"path": root}, _ST.fromJson(_json.loads(snap["schema"])),
        snap, root)
    rdr.pushFilters([GreaterThanOrEqual(("o_orderkey",), 1200),
                     LessThan(("o_orderkey",), 1800),
                     EqualTo(("o_orderstatus",), "O")])
    kept = rdr._kept_paths()
    assert len(kept) == 1, (
        "pushdown must plan exactly the [1000,2000) file", kept)
    return (spark.read.format("txlog").load(root)
            .where("o_orderkey >= 1200 AND o_orderkey < 1800 "
                   "AND o_orderstatus = 'O'")
            .orderBy("o_orderkey"))


TXLOG_PUSHDOWN_SCAN_SQL = """
SELECT o_orderkey, custkey, o_orderstatus, o_totalprice,
       o_orderpriority
FROM (SELECT o_orderkey, o_custkey AS custkey, o_orderstatus,
             o_totalprice, o_orderpriority
      FROM orders
      WHERE o_orderkey >= 1200 AND o_orderkey < 1800
        AND o_orderstatus = 'O'
        AND o_orderkey % 10 <> 3)
ORDER BY o_orderkey
"""


def txlog_checkpoint_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COLUMNAR checkpoint under the oracle gate (new r13,
    VERDICT r12 #1): snapshot resolution through a parquet
    checkpoint + log suffix must be value-exact.

    orders lands as six commits with checkpoint_every=3 (columnar
    checkpoints at v3 and v6 — JSON meta + files parquet), then a
    rewrite DELETE (v7) and a rewrite UPDATE (v8) pile a suffix of
    removes AND shadowing re-adds on top of the v6 checkpoint. The
    read resolves: checkpoint arrow buffers -> _LazyFiles suffix
    overlay -> exact rows. In-query plan asserts pin the machinery:
    the head checkpoint is columnar and loadable, the head snapshot
    is a _LazyFiles with a live suffix, and a time-travel snapshot
    AT v6 resolves purely from the checkpoint (empty suffix)."""
    root = tempfile.mkdtemp(prefix="txlog_cp_") + "/t"
    orders = _orders(spark, sf_dir)
    T.append_sliced(orders, root, "o_orderkey % 6", 6,
                    checkpoint_every=3)
    T.delete_where(spark, root, "o_orderkey % 7 = 2",
                   checkpoint_every=3)
    T.update_where(spark, root, "o_orderstatus = 'F'",
                   {"o_orderpriority": "'X'"}, checkpoint_every=3)
    cps = T._list_checkpoints(root)
    assert cps == [3, 6], cps
    loaded = T._load_checkpoint(root, 6)
    assert loaded is not None and "files_parquet" in loaded[0]
    snap = T.snapshot(root)
    assert isinstance(snap["files"], T._LazyFiles)
    assert snap["files"]._added and snap["files"]._removed, \
        "the DML suffix must ride the checkpoint as adds + removes"
    # the cache may hold v6 in its pre-checkpoint suffix form (it
    # was resolved DURING checkpointing); a fresh resolution must
    # come purely from the columnar checkpoint
    T._SNAPSHOTS.clear()
    at6 = T.snapshot(root, 6)
    assert isinstance(at6["files"], T._LazyFiles) \
        and not at6["files"]._added and not at6["files"]._removed, \
        "v6 must resolve purely from the columnar checkpoint"
    return T.read(spark, root).orderBy("o_orderkey")


TXLOG_CHECKPOINT_SCAN_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       CASE WHEN o_orderstatus = 'F' THEN 'X'
            ELSE o_orderpriority END AS o_orderpriority
FROM orders
WHERE o_orderkey % 7 <> 2
ORDER BY o_orderkey
"""


def txlog_stats_prune_scan(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """The stats_parsed VECTORIZED prune under the oracle gate (new
    r14, VERDICT r13 #1): checkpoints carry typed per-file stat
    COLUMNS and plan-time pruning runs as pyarrow compute over the
    checkpoint buffers — no Spark job, no per-file json.loads —
    which is exactly what the format("txlog") plan path (no Spark
    handle inside planning) rides.

    orders lands HIVE-PARTITIONED by a bucket column with a
    columnar checkpoint per commit, so the checkpoint carries
    footer ranges (s_lo/s_hi), null counts AND partition tokens
    (s_pt/s_pn). In-query asserts pin the machinery: the head
    checkpoint's store answers has_stats() from footer metadata,
    the vectorized survivor set equals the per-file driver loop's
    EXACTLY for a mixed partition+range predicate, and it keeps
    only the target bucket's files. The returned scan is the
    native format("txlog") read with the same pushed predicate —
    value-exact against the residual SQL."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled",
                   "true")
    T.register(spark)
    root = tempfile.mkdtemp(prefix="txlog_vp_") + "/t"
    orders = _orders(spark, sf_dir).withColumn(
        "o_bucket", F.col("o_orderkey") % 4)
    for b in range(4):
        T.append(orders.where(F.col("o_bucket") == b).coalesce(1),
                 root, checkpoint_every=1,
                 partition_by=["o_bucket"])
    snap = T.snapshot(root)
    store = snap["files"]._store
    assert store is not None and store.has_stats(), \
        "checkpoint must carry stats_parsed columns"
    conj = [("o_bucket", "=", 2), ("o_orderkey", ">=", 500)]
    vec = sorted(T._files_possibly_matching(snap, conj, root,
                                            None))
    assert vec and all("o_bucket=2" in p for p in vec), \
        ("partition-token pruning must keep only bucket 2", vec)
    # the per-file reference: the same snapshot with a plain-dict
    # file map, which _files_possibly_matching never vectorizes
    slow = sorted(T._files_possibly_matching(
        {**snap, "files": dict(snap["files"].items())}, conj, root,
        None))
    assert vec == slow, ("vectorized survivors must equal the "
                         "per-file loop", vec, slow)
    return (spark.read.format("txlog").load(root)
            .where("o_bucket = 2 AND o_orderkey >= 500")
            .orderBy("o_orderkey"))


TXLOG_STATS_PRUNE_SCAN_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderpriority, o_orderkey % 4 AS o_bucket
FROM orders
WHERE o_orderkey % 4 = 2 AND o_orderkey >= 500
ORDER BY o_orderkey
"""


def txlog_or_prune_scan(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """Bounded OR/DNF pruning under the oracle gate (new r15,
    VERDICT r14 #5): a top-level OR of recognized conjunct groups
    plans as the UNION of per-disjunct survivor sets — the
    multi-partition reload shape (``ds='a' OR ds='b'``) and the
    z-order box-union shape stop scanning every file.

    orders lands HIVE-PARTITIONED by a bucket column, each bucket
    split into a below-1000 and an at-or-above-1000 key file (two
    files per partition with disjoint footer key ranges). The
    predicate ``(o_bucket = 1 AND o_orderkey >= 1000) OR
    o_bucket = 3`` mixes per-disjunct partition AND range pruning:
    disjunct one keeps only bucket 1's upper-range file, disjunct
    two keeps both bucket-3 files. In-query asserts pin the
    machinery: _parse_dnf sees exactly two disjuncts, the survivor
    union is exactly those 3 of 8 files, and read_where rides it.
    The returned scan is value-exact against the residual SQL."""
    root = tempfile.mkdtemp(prefix="txlog_or_") + "/t"
    orders = _orders(spark, sf_dir).withColumn(
        "o_bucket", F.col("o_orderkey") % 4)
    for b in range(4):
        bucket = orders.where(F.col("o_bucket") == b)
        T.append(bucket.where(F.col("o_orderkey") < 1000)
                 .coalesce(1), root, checkpoint_every=1,
                 partition_by=["o_bucket"])
        T.append(bucket.where(F.col("o_orderkey") >= 1000)
                 .coalesce(1), root, checkpoint_every=1)
    cond = ("(o_bucket = 1 AND o_orderkey >= 1000) "
            "OR o_bucket = 3")
    dnf = T._parse_dnf(cond)
    assert len(dnf) == 2 and all(dnf), dnf
    snap = T.snapshot(root)
    assert len(snap["files"]) == 8, len(snap["files"])
    keep = T._files_matching_pred(snap, cond, root, None)
    assert keep is not None and len(keep) == 3, keep
    assert sum("o_bucket=1" in p for p in keep) == 1 \
        and sum("o_bucket=3" in p for p in keep) == 2, keep
    return T.read_where(spark, root, cond).orderBy("o_orderkey")


TXLOG_OR_PRUNE_SCAN_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderpriority, o_orderkey % 4 AS o_bucket
FROM orders
WHERE (o_orderkey % 4 = 1 AND o_orderkey >= 1000)
   OR o_orderkey % 4 = 3
ORDER BY o_orderkey
"""
