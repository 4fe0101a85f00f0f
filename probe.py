"""Per-round 100x scale-regression probe (VERDICT r6 #7).

sf0.1 bench cannot see wire-amplification bugs: r6's semdedup
pathology (O(pairs x dim) join rows, ~1 TB at 500k docs) benched a
healthy 4.96s at sf0.1 and only surfaced at the 100x tier. This
harness makes that tier part of the per-round regression contract:
a fixed panel of heavy operator families runs ONE cold pass at x10
and x100 (replica-suffixed corpus, linear-by-construction — see
examples/scale_probe_r6.py for the corpus contract), and the decade
exponent log10(t100/t10) lands in PROBE_r{N}.json next to BENCH.

Regression rule (documented in BASELINE.md): an exponent jump of
MORE THAN +0.2 vs the previous round's PROBE file for the same
query is a scale regression — treat it like a red correctness row:
find the plan change, fix or revert. Exponents jitter a few
hundredths run-to-run; +0.2 is a plan-shape change, not noise.

Besides the document panel, one EMBEDDING leg times the IVF kNN
edge build (knn_graph_ivf, C84's edge path) at x10/x100/x250 of the
sf0.1 embedding table (500k vectors at x250) and records driver
ru_maxrss around each build — the whole point of the IVF rewrite is
that the corpus matrix never lands on the driver, so the RSS
high-water mark must stay flat across a 100x corpus growth.

Usage: python probe.py [round_number]
  writes PROBE_r{N}.json (default: next after the largest existing)
  SPARK_GRAFT_PROBE_ONLY=a,b  limit to named panel queries
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import resource
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gcp_data_engineering_workshop_spark.session import get_spark
from gcp_data_engineering_workshop_spark.plans import textpipeline as tp
from gcp_data_engineering_workshop_spark.operators.similarity import (
    ann_index_append, ann_index_build, ann_index_topk, knn_graph_ivf)

from examples.scale_probe_r6 import build_docs_dir, WORK  # corpus builder

# The panel: one representative per heavy family — semantic dedup
# (k-means + per-cluster GEMM + CC), shingle dedup (LSH + CC +
# keep-best), the span/fingerprint family, lexical retrieval, and
# importance selection. Broad plan coverage, ~6-8 min total.
PANEL = [
    ("text_semdedup", tp.text_semdedup),
    ("dedup_corpus", tp.dedup_corpus),
    ("span_dedup_keep_first", tp.span_dedup_keep_first),
    ("bm25_topk", tp.bm25_topk),
    ("dsir_select", tp.dsir_select),
]

SCALES = (10, 100)
EMB_SCALES = (10, 100, 250)  # x250 = 500k vectors (sf0.1 has 2k)
BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build_emb_dir(k: int) -> str:
    """embeddings.parquet at k x sf0.1. Replica r offsets vec_id and
    np.rolls each embedding by r mod dim positions — unit norms are
    preserved and replicas are not bytewise-identical vectors, so
    per-list GEMM work grows linearly with no degenerate all-equal
    lists. Written one replica at a time (~1 MB each) so the corpus
    build itself never moves this process's ru_maxrss high-water
    mark that the RSS leg measures."""
    out = os.path.join(WORK, f"emb{k}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    base = pq.read_table(os.path.join(BASE_SF, "embeddings.parquet"))
    ids = np.asarray(base.column("vec_id"))
    mat = np.vstack([np.asarray(v, dtype=np.float32)
                     for v in base.column("embedding").to_pylist()])
    labels = np.asarray(base.column("label"))
    dim = mat.shape[1]
    schema = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
    writer = pq.ParquetWriter(os.path.join(out, "embeddings.parquet"),
                              schema)
    for r in range(k):
        rolled = np.roll(mat, r % dim, axis=1)
        writer.write_table(pa.table({
            "vec_id": pa.array(ids + r * 10_000_000, type=pa.int64()),
            "embedding": pa.array(list(rolled), type=pa.list_(pa.float32())),
            "label": pa.array(labels, type=pa.int32()),
        }, schema=schema))
    writer.close()
    open(os.path.join(out, "_DONE"), "w").close()
    print(f"emb x{k}: {len(ids) * k} rows", flush=True)
    return out


def _rss_mb() -> float:
    return round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                 / 1024.0, 1)


def run_knn_ivf_leg(spark) -> dict:
    """Time the IVF kNN edge build per scale; record the driver RSS
    high-water mark before/after each build. Flat deltas across
    x10 -> x250 certify the no-driver-collect property (the gemm
    twin would grow by ~n*dim*8 bytes: ~250 MB at x250).

    Sizing is the PRODUCTION regime the knn_graph_ivf docstring
    documents: n_lists grows with the corpus (n/256 — constant
    expected list size) and n_probe stays FIXED, so per-query
    candidate work is n_probe * 256 = O(1) and the edge build is
    O(n) by construction. (The first r8 run used fixed n_lists=16 —
    list sizes then grow linearly and per-list GEMM work
    quadratically, which measured exp 1.096 / 1342 s at x250:
    recorded here as the counter-example of WHY list count must
    scale, not as a plan defect.) The quantizer sample grows as
    32 * n_lists — the driver-side cost of training more centroids,
    bounded by the list count, never the corpus."""
    row: dict = {}
    for k in EMB_SCALES:
        d = build_emb_dir(k)
        emb = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
        n = emb.count()
        n_lists = max(16, n // 256)
        rss0 = _rss_mb()
        t0 = time.monotonic()
        # x250 runs the r11 two-level route (member + prober routing
        # through the coarse level — no n_lists-sized closure), the
        # path the 1e9 regime uses; x10/x100 stay flat so exp_10_100
        # remains comparable with PROBE_r10's leg
        row[f"edges_x{k}"] = knn_graph_ivf(
            emb, k=5, n_lists=n_lists, n_probe=8,
            sample_size=32 * n_lists,
            assignment="two_level" if k == 250 else "flat").count()
        row[f"t_x{k}"] = round(time.monotonic() - t0, 3)
        row[f"n_lists_x{k}"] = n_lists
        row[f"rss_mb_before_x{k}"] = rss0
        row[f"rss_mb_after_x{k}"] = _rss_mb()
        spark.catalog.clearCache()
    row["exp_10_100"] = round(
        math.log10(row["t_x100"] / row["t_x10"]), 3)
    return row


def run_knn_two_level_leg(spark) -> dict:
    """VERDICT r11 #7: the TWO-LEVEL kNN route gets the
    decade-exponent + RSS treatment the flat edge leg already has —
    assignment="two_level" at EVERY scale (the flat leg runs
    two_level only at x250), with the COARSE-MATRIX CLOSURE SIZE as
    the contract metric: the whole point of the two-level topology
    is that only the (sqrt(L) x dim) coarse matrix ever rides a
    task closure while the n_lists fine centroids stay a cogrouped
    DataFrame. The leg measures the REAL closure content by fitting
    the same seeded quantizer knn_graph_ivf builds internally
    (bit-identical fine centroids by the deterministic-sample
    contract) and asserts ``closure_ok``: coarse rows <=
    isqrt(n_lists)+1 at every scale, the x250 closure under 1 MB,
    and the coarse/fine fraction SHRINKING as the corpus grows
    (1/sqrt(L) — the flat closure's fraction is a constant 1)."""
    from gcp_data_engineering_workshop_spark.operators.similarity import (
        two_level_quantizer)

    row: dict = {}
    for k in EMB_SCALES:
        d = build_emb_dir(k)
        emb = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
        n = emb.count()
        n_lists = max(16, n // 256)
        _fine_df, coarse = two_level_quantizer(
            emb, n_lists, sample_size=32 * n_lists)
        row[f"n_lists_x{k}"] = n_lists
        row[f"coarse_rows_x{k}"] = int(coarse.shape[0])
        row[f"closure_kb_x{k}"] = round(coarse.nbytes / 1024.0, 1)
        rss0 = _rss_mb()
        t0 = time.monotonic()
        row[f"edges_x{k}"] = knn_graph_ivf(
            emb, k=5, n_lists=n_lists, n_probe=8,
            sample_size=32 * n_lists,
            assignment="two_level").count()
        row[f"t_x{k}"] = round(time.monotonic() - t0, 3)
        row[f"rss_mb_before_x{k}"] = rss0
        row[f"rss_mb_after_x{k}"] = _rss_mb()
        spark.catalog.clearCache()
    row["exp_10_100"] = round(
        math.log10(row["t_x100"] / row["t_x10"]), 3)
    row["exp_100_250"] = round(
        math.log10(row["t_x250"] / row["t_x100"])
        / math.log10(2.5), 3)
    fr = {k: row[f"coarse_rows_x{k}"] / row[f"n_lists_x{k}"]
          for k in EMB_SCALES}
    row["closure_fraction_x250"] = round(fr[250], 4)
    row["closure_ok"] = bool(
        all(row[f"coarse_rows_x{k}"]
            <= math.isqrt(row[f"n_lists_x{k}"]) + 1
            for k in EMB_SCALES)
        and row["closure_kb_x250"] < 1024
        and fr[250] < fr[10])
    return row


def run_ann_index_leg(spark) -> dict:
    """r8 task #3's owed leg (VERDICT r9 Missing #1): C88 build +
    query at x10/x100, recording the PRUNED-PARTITION FRACTION the
    layout exists for. n_lists scales n/256 (the production regime,
    same as the IVF edge leg); the bounded 8-query set probes
    n_probe=8 lists each, so the query scan must open at most
    64/n_lists of the partition directories — ``pruned_ok`` asserts
    fraction <= 0.2 at x100 (expected ~0.08). Build rides the
    two_level assignment at x100 (the 1e9-regime path, closure
    bounded at sqrt(L)); the query path is identical either way
    because the sidecar is shared."""
    row: dict = {}
    for k in (10, 100):
        d = build_emb_dir(k)
        emb = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
        n = emb.count()
        n_lists = max(16, n // 256)
        idx = os.path.join(WORK, f"annidx{k}")
        t0 = time.monotonic()
        ann_index_build(
            emb, idx, n_lists=n_lists, sample_size=32 * n_lists,
            assignment="two_level" if k == 100 else "flat")
        row[f"t_build_x{k}"] = round(time.monotonic() - t0, 3)
        row[f"n_lists_x{k}"] = n_lists
        q = emb.where("vec_id < 8")
        t0 = time.monotonic()
        row[f"topk_rows_x{k}"] = ann_index_topk(
            spark, idx, queries=q, k=5, n_probe=8).count()
        row[f"t_query_x{k}"] = round(time.monotonic() - t0, 3)
        # pruned-partition fraction: files under the probed lists'
        # directories vs all index files (the same accounting the
        # pruning pytest does, at probe scale)
        side = json.load(open(os.path.join(idx, "centroids.json")))
        cent = np.asarray(side["centroids"], dtype=np.float64)
        q_rows = q.select("vec_id", "embedding").collect()
        probed = set()
        for r in q_rows:
            v = np.asarray(r.embedding, dtype=np.float64)
            probed.update(
                int(x) for x in np.argsort(-(cent @ v))[:8])
        all_files = [os.path.join(dp, f) for dp, _, fs in
                     os.walk(os.path.join(idx, "lists"))
                     for f in fs if f.endswith(".parquet")]
        opened = [f for f in all_files
                  if any(f"list_id={li}/" in f for li in probed)]
        frac = len(opened) / max(1, len(all_files))
        row[f"pruned_fraction_x{k}"] = round(frac, 4)
        spark.catalog.clearCache()
    row["exp_build_10_100"] = round(
        math.log10(row["t_build_x100"] / row["t_build_x10"]), 3)
    row["exp_query_10_100"] = round(
        math.log10(row["t_query_x100"] / row["t_query_x10"]), 3)
    row["pruned_ok"] = row["pruned_fraction_x100"] <= 0.2
    # APPEND tier (r13, VERDICT r12 #6): admit the SAME-SIZE fresh
    # slice into the x10 AND x100 indexes through their saved
    # quantizers — no rebuild. The scale contract is that append
    # cost tracks the INGEST BATCH (its touched lists), not the
    # index size: a rebuild grows with the corpus (t_build 10x
    # across the decade), the append must stay ~flat. Queries on
    # the grown corpus still answer; sidecars stay byte-identical.
    from pyspark.sql import functions as F
    for k in (10, 100):
        idx = os.path.join(WORK, f"annidx{k}")
        d = build_emb_dir(k)
        emb = spark.read.parquet(
            os.path.join(d, "embeddings.parquet"))
        side_before = open(
            os.path.join(idx, "centroids.json")).read()
        fresh = (emb.where("vec_id < 2000")
                 .withColumn("vec_id",
                             F.col("vec_id") + 900_000_000))
        # touched-list count (driver-side 2000 x dim GEMM against
        # the saved sidecar): the batch scatters over ~min(batch,
        # n_lists) partitions, and THAT is what append cost tracks
        side_c = np.asarray(json.loads(side_before)["centroids"],
                            dtype=np.float64)
        batch_m = np.array(
            [r.embedding for r in fresh.select("embedding")
             .collect()], dtype=np.float64)
        row[f"touched_lists_x{k}"] = int(len(set(
            (batch_m @ side_c.T).argmax(axis=1).tolist())))
        t0 = time.monotonic()
        n_app = ann_index_append(fresh, idx)
        row[f"t_append_x{k}"] = round(time.monotonic() - t0, 3)
        row[f"append_rows_x{k}"] = n_app
        q = emb.where("vec_id < 8")
        t0 = time.monotonic()
        row[f"topk_rows_after_append_x{k}"] = ann_index_topk(
            spark, idx, queries=q, k=5, n_probe=8).count()
        row[f"t_query_after_append_x{k}"] = round(
            time.monotonic() - t0, 3)
        row[f"append_sidecar_ok_x{k}"] = (
            open(os.path.join(idx, "centroids.json")).read()
            == side_before)
    row["exp_append_10_100"] = round(math.log10(max(
        row["t_append_x100"], 1e-3) / max(
        row["t_append_x10"], 1e-3)), 3)
    # the durable claim: per-TOUCHED-LIST append cost is flat
    # across the decade (total cost tracks the batch's partition
    # fan-out — n_lists grows n/256, so a same-size diverse batch
    # legitimately touches ~10x the lists at x100 — never the
    # corpus size; a rebuild pays the whole corpus instead)
    row["ms_per_list_x10"] = round(1000 * row["t_append_x10"]
                                   / row["touched_lists_x10"], 2)
    row["ms_per_list_x100"] = round(1000 * row["t_append_x100"]
                                    / row["touched_lists_x100"], 2)
    row["append_ok"] = (
        row["append_rows_x10"] == 2000
        and row["append_rows_x100"] == 2000
        and row["topk_rows_after_append_x100"]
        == row["topk_rows_x100"]
        and row["append_sidecar_ok_x10"]
        and row["append_sidecar_ok_x100"]
        and row["ms_per_list_x100"]
        <= 2 * row["ms_per_list_x10"])
    # the regression comparator keys off exp_10_100; expose the
    # query exponent there (the build is a one-time cost)
    row["exp_10_100"] = row["exp_query_10_100"]
    return row


def run_avrolite_zonemap_leg(spark) -> dict:
    """r8 task #3's second owed leg: an avrolite container with 50
    blocks, a range predicate selecting ~2 of them, and the
    BLOCKS-OPENED counter from the reader's own planning path
    (AvroLiteReader.partitions()) — plus wall time of the pruned
    read vs the same range written so the reader cannot push it
    (``id % 500000`` is ``id`` here; Catalyst folds ``id + 0``
    back to ``id``, so that spelling would still prune). The
    string-zone-map twin runs the same shape on an ISO-date string
    column (this round's E21 extension)."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import (GreaterThanOrEqual, LessThan)

    from gcp_data_engineering_workshop_spark.sources.avrolite import (
        AvroLiteDataSource, AvroLiteReader)

    spark.dataSource.register(AvroLiteDataSource)
    d = os.path.join(WORK, "avroprobe")
    if not os.path.exists(os.path.join(d, "_DONE")):
        df = (spark.range(500_000).orderBy("id").coalesce(1)
              .select(F.col("id"),
                      F.date_format(
                          F.date_add(F.lit("2000-01-01"),
                                     (F.col("id") / 100).cast("int")),
                          "yyyy-MM-dd").alias("day")))
        (df.write.format("avrolite").option("path", d)
         .option("records_per_block", "10000").mode("append").save())
        open(os.path.join(d, "_DONE"), "w").write("")
    row: dict = {}
    full = AvroLiteReader({"path": d})
    blocks_total = sum(len(p.value[1]) for p in full.partitions())
    # numeric range: 2 of 50 blocks
    rn = AvroLiteReader({"path": d})
    rn.pushFilters([GreaterThanOrEqual(("id",), 200_000),
                    LessThan(("id",), 220_000)])
    row["blocks_total"] = blocks_total
    row["blocks_opened_numeric"] = sum(
        len(p.value[1]) for p in rn.partitions())
    # string (ISO date) range: same selectivity through the string
    # zone maps
    rs = AvroLiteReader({"path": d})
    rs.pushFilters([GreaterThanOrEqual(("day",), "2005-06-23"),
                    LessThan(("day",), "2005-12-31")])
    row["blocks_opened_string"] = sum(
        len(p.value[1]) for p in rs.partitions())
    # restore the PRIOR conf value, never a hardcoded default —
    # session.py defaults this true since r12 and the
    # format("txlog") legs downstream NEED it (the hardcoded
    # "false" here crashed the r13 full probe run with
    # DATA_SOURCE_PUSHDOWN_DISABLED — the exact suite-order bug
    # class PLANS r12 recorded for the pytest suite)
    prior = spark.conf.get(
        "spark.sql.python.filterPushdown.enabled", "false")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        t0 = time.monotonic()
        row["rows_pruned_read"] = (
            spark.read.format("avrolite").option("path", d).load()
            .where("id >= 200000 and id < 220000").count())
        row["t_pruned_read"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        row["rows_full_read"] = (
            spark.read.format("avrolite").option("path", d).load()
            .where("id % 500000 >= 200000 and id % 500000 < 220000")
            .count())
        row["t_full_read"] = round(time.monotonic() - t0, 3)
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled",
                       prior)
    row["pruned_ok"] = (
        row["blocks_opened_numeric"] <= 3
        and row["blocks_opened_string"] <= blocks_total // 4)
    return row


def run_txlog_merge_scale_leg(spark) -> dict:
    """E22's 100-TB claim measured: a fixed-size upsert against a
    range-clustered txlog table must cost ~the same whether the
    table has 1.5M rows in 100 files or 15M rows in 1000 files —
    merge reads/rewrites only the key-range-intersecting files, so
    t_merge tracks TOUCHED files, not the table. Records the merge
    wall time, the commit's n_remove (files actually rewritten; the
    assert is <= 4 at BOTH scales), and the decade exponent
    (expected ~0: snapshot resolution + the batched membership
    aggregate grow only in metadata width)."""
    from pyspark.sql import functions as F

    from gcp_data_engineering_workshop_spark.sources import txlog as T

    row: dict = {}
    for k, (n_rows, n_files) in (("x10", (1_500_000, 100)),
                                 ("x100", (15_000_000, 1000))):
        root = os.path.join(WORK, f"txmerge{k}", "t")
        # ALWAYS rebuild: the table is mutated by the timed merge,
        # so a reused _DONE dir makes round N+1 merge into round
        # N's update files instead of the clustered table (the r11
        # first run measured exactly that: 33 'touched' files that
        # were just the prior run's debris, not a pruning
        # regression — adjudication in PLANS r11)
        import shutil as _sh
        _sh.rmtree(os.path.dirname(root), ignore_errors=True)
        df = (spark.range(n_rows)
              .select(F.col("id").alias("k"),
                      (F.col("id") * 7 % 1000).alias("v"))
              .repartitionByRange(n_files, "k"))
        T.append(df, root, checkpoint_every=0)
        ups = spark.createDataFrame(
            [(n_rows // 2 + i, -1) for i in range(100)],
            "k bigint, v bigint")
        t0 = time.monotonic()
        T.merge_upsert(spark, root, ups, "k", checkpoint_every=0)
        row[f"t_merge_{k}"] = round(time.monotonic() - t0, 3)
        hist = T.history(root)[-1]
        row[f"files_rewritten_{k}"] = hist["n_remove"]
        row[f"n_files_{k}"] = n_files
        spark.catalog.clearCache()
    row["exp_10_100"] = round(
        math.log10(row["t_merge_x100"] / row["t_merge_x10"]), 3)
    row["pruned_ok"] = (row["files_rewritten_x10"] <= 4
                        and row["files_rewritten_x100"] <= 4)
    return row


def run_txlog_dv_scale_leg(spark) -> dict:
    """Deletion vectors measured at decade scales (r11 third
    stint): a fixed-selectivity DELETE whose hits spread across
    EVERY file of the table (id % 1499 == 7, ~0.07%) runs in both
    modes on identical tables. mode="dv" must rewrite ZERO data
    files (asserted on the live set) and write a sidecar orders of
    magnitude smaller than the table; mode="rewrite" rewrites every
    hit file — here the whole table. Records wall times, the bytes
    asymmetry, the post-delete full-scan overhead (the anti-join
    price a reader pays until OPTIMIZE purges), and the dv-delete
    decade exponent (dominated by the one exact hit scan, so ~1.0
    slope in data volume is expected — the SAVING is in write
    amplification, not scan cost)."""
    from pyspark.sql import functions as F

    from gcp_data_engineering_workshop_spark.sources import txlog as T

    import shutil as _sh

    row: dict = {}
    for k, (n_rows, n_files) in (("x10", (1_500_000, 100)),
                                 ("x100", (15_000_000, 1000))):
        for mode in ("dv", "rewrite"):
            root = os.path.join(WORK, f"txdv_{mode}_{k}", "t")
            _sh.rmtree(os.path.dirname(root), ignore_errors=True)
            df = (spark.range(n_rows)
                  .select("id", (F.col("id") * 7 % 1000).alias("v"))
                  .repartitionByRange(n_files, "id"))
            T.append(df, root, checkpoint_every=0)
            if mode == "dv":
                row[f"table_bytes_{k}"] = \
                    T.describe(root)["total_bytes"]
                files0 = set(T.snapshot(root)["files"])
                t0 = time.monotonic()
                T.read(spark, root).count()
                t_read0 = time.monotonic() - t0
            t0 = time.monotonic()
            T.delete_where(spark, root, "id % 1499 = 7", mode=mode,
                           checkpoint_every=0)
            t_del = round(time.monotonic() - t0, 3)
            if mode == "dv":
                assert set(T.snapshot(root)["files"]) == files0, \
                    "dv delete rewrote a data file"
                row[f"t_dv_delete_{k}"] = t_del
                row[f"dv_sidecar_bytes_{k}"] = sum(
                    os.path.getsize(os.path.join(dp, f))
                    for dp, _d, fs in os.walk(
                        os.path.join(root, "_dv"))
                    for f in fs)
                row[f"files_rewritten_dv_{k}"] = 0
                t0 = time.monotonic()
                row[f"rows_after_{k}"] = T.read(spark, root).count()
                row[f"dv_read_overhead_pct_{k}"] = round(
                    100 * (time.monotonic() - t0 - t_read0)
                    / max(t_read0, 1e-9), 1)
            else:
                row[f"t_rewrite_delete_{k}"] = t_del
                row[f"files_rewritten_rewrite_{k}"] = \
                    T.history(root)[-1]["n_remove"]
            spark.catalog.clearCache()
        row[f"n_files_{k}"] = n_files
    row["bytes_ratio_x100"] = round(
        row["table_bytes_x100"] / max(row["dv_sidecar_bytes_x100"], 1))
    row["exp_10_100"] = round(
        math.log10(row["t_dv_delete_x100"] / row["t_dv_delete_x10"]),
        3)
    row["pruned_ok"] = (row["files_rewritten_dv_x10"] == 0
                        and row["files_rewritten_dv_x100"] == 0)
    return row


def run_txlog_bloom_leg(spark) -> dict:
    """Bloom-index point lookups at decade scales (r11 third
    stint): a hash-scattered table (every file's id range covers
    the whole domain — the layout range stats CANNOT prune) with a
    declared bloom index must open ~1 file for `id = k` at both
    100-file and 1000-file scales. Records the candidate counts
    with and without the index, the pruned point-read time, and
    the index build overhead folded into the append."""
    from pyspark.sql import functions as F

    from gcp_data_engineering_workshop_spark.sources import txlog as T

    import shutil as _sh

    row: dict = {}
    for k, (n_rows, n_files) in (("x10", (1_500_000, 100)),
                                 ("x100", (15_000_000, 1000))):
        root = os.path.join(WORK, f"txbloom{k}", "t")
        _sh.rmtree(os.path.dirname(root), ignore_errors=True)
        T.set_bloom_index(root, ["id"], checkpoint_every=0)
        df = (spark.range(n_rows)
              .select("id", (F.col("id") * 7 % 1000).alias("v"))
              .repartition(n_files, "id"))  # hash scatter
        t0 = time.monotonic()
        T.append(df, root, checkpoint_every=0)
        row[f"t_indexed_append_{k}"] = round(time.monotonic() - t0, 3)
        snap = T.snapshot(root)
        probe_cond = f"id = {n_rows // 2}"
        conj = T._parse_conjuncts(probe_cond)
        row[f"files_{k}"] = len(snap["files"])
        row[f"cand_no_bloom_{k}"] = len(
            T._files_possibly_matching(snap, conj))  # ranges only
        row[f"cand_bloom_{k}"] = len(
            T._files_possibly_matching(snap, conj, root))
        t0 = time.monotonic()
        n = T.read_where(spark, root, probe_cond).count()
        row[f"t_point_read_{k}"] = round(time.monotonic() - t0, 3)
        assert n == 1
        spark.catalog.clearCache()
    row["exp_10_100"] = round(
        math.log10(row["t_point_read_x100"]
                   / max(row["t_point_read_x10"], 1e-9)), 3)
    # expected candidates = 1 true hit + fpp x (files - 1) false
    # positives (the 1% default measured EXACTLY 10 at 1000 files
    # on the first run — bloom theory, not a bug); allow 3x margin
    row["pruned_ok"] = (
        row["cand_bloom_x10"] <= 1 + 3 * 0.01 * row["files_x10"]
        and row["cand_bloom_x100"] <= 1 + 3 * 0.01 * row["files_x100"]
        and row["cand_no_bloom_x100"] == row["files_x100"])
    return row


def run_txlog_stream_leg(spark) -> dict:
    """r11's owed leg (VERDICT r10 next-round #2): rows/s THROUGH
    the executor-parallel txlogstream source at x10/x100. The drain
    runs a real readStream -> foreachBatch(count) query (count is an
    executor-side aggregate, so the measurement itself moves no rows
    to the driver) over a table of range-partitioned commits.
    exp_10_100 is wall time over a 10x table — expect <= ~1 with
    the streaming fixed overhead damping it; the property under
    regression watch is that it STAYS put (a jump means rows
    started transiting a serial path again)."""
    from pyspark.sql import functions as F

    from gcp_data_engineering_workshop_spark.sources import txlog as T
    from gcp_data_engineering_workshop_spark.sources.txlog import (
        TxLogStreamDataSource)

    spark.dataSource.register(TxLogStreamDataSource)
    row: dict = {}

    def drain(root):
        counts = []
        rdr = (spark.readStream.format("txlogstream")
               .option("path", root))
        t0 = time.monotonic()
        q = (rdr.load().writeStream
             .foreachBatch(lambda df, bid: counts.append(df.count()))
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return round(time.monotonic() - t0, 3), sum(counts)

    for k, (n_rows, n_commits) in (("x10", (150_000, 5)),
                                   ("x100", (1_500_000, 50))):
        root = os.path.join(WORK, f"txstream{k}", "t")
        if not os.path.exists(os.path.join(
                os.path.dirname(root), "_DONE")):
            per = n_rows // n_commits
            for c in range(n_commits):
                T.append(spark.range(c * per, (c + 1) * per)
                         .select(F.col("id"),
                                 (F.col("id") * 3 % 997).alias("v"))
                         .repartition(4),
                         root, checkpoint_every=0)
            open(os.path.join(os.path.dirname(root), "_DONE"),
                 "w").write("")
        t, got = drain(root)
        assert got == n_rows, (got, n_rows)  # exactly-once drain
        row[f"t_{k}"] = t
        row[f"rows_{k}"] = got
        row[f"rows_per_s_{k}"] = round(got / t, 1)
    row["exp_10_100"] = round(
        math.log10(row["t_x100"] / row["t_x10"]), 3)
    # r15 CAPPED path (VERDICT r14 #6): drain the x10 tier again
    # under max_bytes_per_trigger sized to ~1/4 of the table —
    # exactly-once row parity across >= 4 bounded batches through
    # the file-cursor offsets
    from gcp_data_engineering_workshop_spark.sources import (
        txlog as _T)
    root10 = os.path.join(WORK, "txstreamx10", "t")
    total_b = sum(m["bytes"] for m in
                  _T.snapshot(root10)["files"].values())
    counts = []
    q = (spark.readStream.format("txlogstream")
         .option("path", root10)
         .option("max_bytes_per_trigger", str(total_b // 4))
         .option("reader_id", "probe-bytescap")
         .load().writeStream
         .foreachBatch(lambda df, bid: counts.append(df.count()))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    row["bytes_cap_batches"] = len([c for c in counts if c])
    row["bytes_cap_rows"] = sum(counts)
    row["bytes_cap_ok"] = (sum(counts) == 150_000
                           and row["bytes_cap_batches"] >= 4)
    return row


def run_txlog_metadata_scale_leg(spark) -> dict:
    """DRIVER METADATA ceiling, r13 edition: snapshot resolution +
    stat pruning + scan planning at 10k / 100k / 1M FILES through
    the COLUMNAR parquet checkpoint (VERDICT r12 #1 — the r12 run
    measured the legacy JSON checkpoint O(files) at every phase:
    0.87 s snapshot / 391.6 MB RSS / 16.6 MB JSON at 100k files).
    The leg synthesizes a columnar checkpoint with realistic
    per-file entries (range-clustered stats, null counts, byte
    sizes) plus a fileless commit, then times per tier:

    - t_snapshot_cold (caches cleared): now O(1) — the parquet
      sidecar loads LAZILY; t_snapshot_warm: the per-(root,
      version) cache hit.
    - t_prune + prune_mode: _files_possibly_matching — the range
      test runs vectorized over the checkpoint's stats_parsed
      columns and the driver materializes O(survivors);
      rss_mb_prune is sampled RIGHT AFTER it (the
      sub-linear-driver-RSS contract).
    - t_merge_prune + merge_regime: _files_touching_keys for a
      3-key upsert — the same vectorized pass; above 50k files
      also a 5M-key over-collect-gate merge through the key
      digest (t_merge_overgate).
    - t_plan: the native reader's partitions() (the DS-worker path,
      no spark handle). r14: rides the stats_parsed VECTORIZED
      prune (pyarrow compute over checkpoint buffers, VERDICT r13
      #1) — t_plan_legacy_* records the r13 json.loads loop for
      the before/after; plan_fast_ok pins >=5x at the 1M tier.
    - t_ckpt_incr: writing the NEXT checkpoint incrementally on
      arrow buffers (filter + concat), never a million-dict dump.

    Counters: candidate set exactly 1 file at every tier."""
    import json as _json

    from pyspark.sql.datasource import EqualTo
    from pyspark.sql.types import StructType as _ST

    from gcp_data_engineering_workshop_spark.sources import txlog as T

    schema_json = (spark.range(1)
                   .selectExpr("id as k", "cast(id as double) as v")
                   .schema.json())
    row: dict = {}
    tiers = (("x10k", 10_000), ("x100k", 100_000), ("x1m", 1_000_000))
    if os.environ.get("SPARK_GRAFT_PROBE_10M"):
        # opt-in 10M-FILE tier (r15): one decade past the per-round
        # contract tier — a ~1.3 PB table at 128 MB/file. The
        # streamed stats resolution (VERDICT r14 #1) makes this
        # tier affordable: resident store stays O(row group), so
        # only the synth build and the O(files) phases pay the 10x.
        # The legacy json.loads plan comparison is skipped here
        # (it alone would cost ~70 s and says nothing new).
        tiers += (("x10m", 10_000_000),)
    for k, n_files in tiers:
        root = os.path.join(WORK, f"txmeta{k}", "t")
        import shutil as _sh

        import pyarrow as _pa
        import pyarrow.parquet as _pq
        _sh.rmtree(os.path.dirname(root), ignore_errors=True)
        log = os.path.join(root, "_txlog")
        os.makedirs(log)
        with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
            _json.dump({"op": "append", "ts": 0.0, "actions": [],
                        "schema": schema_json}, fh)
        cp_parquet = "checkpoint-" + f"{1:020d}" + ".files.parquet"
        # the r14 checkpoint shape: stats_parsed columns built by
        # the REAL writer-side builder (what _maybe_checkpoint
        # writes), so the leg measures the production format.
        # Built in <=1M-file slices through one ParquetWriter so
        # the synth's own transient peak stays ~1 slice even at the
        # opt-in 10M tier (a million dicts+metas is ~350 MB).
        writer = None
        for c0 in range(0, n_files, 1_000_000):
            c1 = min(c0 + 1_000_000, n_files)
            paths = [f"part-{i:08d}.parquet" for i in range(c0, c1)]
            mdicts = [{
                "path": p, "bytes": 64 << 20, "rows": 500_000,
                "stats": {"k": [i * 1000, (i + 1) * 1000 - 1],
                          "v": [0.0, 999.0]},
                "nulls": {"k": [0, 500_000], "v": [13, 500_000]}}
                for i, p in zip(range(c0, c1), paths)]
            metas = [_json.dumps(m) for m in mdicts]
            cp_cols = {"path": _pa.array(paths, type=_pa.string()),
                       "meta": _pa.array(metas, type=_pa.string())}
            cp_cols.update(T._cp_stat_arrays(
                mdicts, {"k": "bigint", "v": "double"}, {}))
            slice_tbl = _pa.table(cp_cols)
            if writer is None:
                writer = _pq.ParquetWriter(
                    os.path.join(log, cp_parquet), slice_tbl.schema)
            writer.write_table(slice_tbl,
                               row_group_size=131_072)  # writer parity
            del mdicts, metas, paths, cp_cols, slice_tbl
            # synth garbage must not ride the leg's RSS samples
            # (the r14 stat arrays are ~350 MB per 1M files)
        writer.close()
        with open(os.path.join(log, "checkpoint-" + f"{1:020d}"
                               + ".json"), "w") as fh:
            _json.dump({"version": 1, "files_parquet": cp_parquet,
                        "num_files": n_files, "txn": {},
                        "schema": schema_json, "partition_by": [],
                        "colmap": {}, "phys_dropped": [],
                        "features": []}, fh)
        row[f"ckpt_json_kb_{k}"] = round(os.path.getsize(
            os.path.join(log, "checkpoint-" + f"{1:020d}"
                         + ".json")) / 1e3, 1)
        row[f"ckpt_parquet_mb_{k}"] = round(os.path.getsize(
            os.path.join(log, cp_parquet)) / 1e6, 1)
        T._SNAPSHOTS.clear()
        T._CP_STORES.clear()
        t0 = time.monotonic()
        snap = T.snapshot(root)
        row[f"t_snapshot_cold_{k}"] = round(
            time.monotonic() - t0, 4)
        t0 = time.monotonic()
        snap = T.snapshot(root)
        row[f"t_snapshot_warm_{k}"] = round(
            time.monotonic() - t0, 4)
        target = (n_files // 2) * 1000 + 17
        # the stats_parsed vectorized prune runs whenever the
        # checkpoint carries stat columns (it does, at every tier)
        row[f"prune_mode_{k}"] = "vectorized"
        t0 = time.monotonic()
        cand = T._files_possibly_matching(
            snap, [("k", "=", target)], root, spark)
        row[f"t_prune_{k}"] = round(time.monotonic() - t0, 3)
        row[f"files_candidate_{k}"] = len(cand)
        row[f"rss_mb_prune_{k}"] = _rss_mb()
        # MERGE planning tier: the vectorized touch test over the
        # same checkpoint — a bounded upsert's key set against
        # 10k/100k/1M files must plan O(touched) driver-side
        ups = spark.createDataFrame(
            [(target,), (target + 1,), (target + 500,)],
            "k bigint")
        t0 = time.monotonic()
        touched = T._files_touching_keys(
            spark, snap["files"], ups, "k", root, set(), {})
        row[f"t_merge_prune_{k}"] = round(
            time.monotonic() - t0, 3)
        row[f"files_touched_{k}"] = len(touched)
        # r15 (VERDICT r14 #7): which regime planned it, visible
        mp = T.last_merge_plan() or {}
        row[f"merge_regime_{k}"] = mp.get("regime")
        row[f"merge_key_regime_{k}"] = (
            mp.get("key_regimes") or {}).get("k")
        if n_files > 50_000:
            # OVER-COLLECT-GATE tier (r14, VERDICT r13 #4): 5M
            # distinct keys blow the collect gate; the bounded
            # VALUE-RANGE digest must plan exactly the ~5000 files
            # whose ranges the key span covers, with driver cost
            # O(survivors + digest jobs), never O(files)
            lo_k = (n_files // 2) * 1000
            big = spark.range(lo_k, lo_k + 5_000_000) \
                .selectExpr("id as k")
            t0 = time.monotonic()
            touched_og = T._files_touching_keys(
                spark, snap["files"], big, "k", root, set(), {})
            row[f"t_merge_overgate_{k}"] = round(
                time.monotonic() - t0, 3)
            row[f"files_touched_overgate_{k}"] = len(touched_og)
            mp = T.last_merge_plan() or {}
            row[f"merge_regime_overgate_{k}"] = mp.get("regime")
            row[f"merge_key_regime_overgate_{k}"] = (
                mp.get("key_regimes") or {}).get("k")
        # incremental checkpoint: one suffix add on top of tier-1
        with open(os.path.join(log, f"{2:020d}.json"), "w") as fh:
            _json.dump({"op": "append", "ts": 0.0, "actions": [
                {"add": {"path": "part-suffix.parquet", "bytes": 1,
                         "rows": 1}}]}, fh)
        t0 = time.monotonic()
        T._maybe_checkpoint(root, 2, 2)
        row[f"t_ckpt_incr_{k}"] = round(time.monotonic() - t0, 3)
        assert T._load_checkpoint(root, 2) is not None
        # plan through the native reader (DS-worker path: no spark
        # handle, lazy driver loop — the honest O(files) residue)
        rdr = T.TxLogBatchReader(
            {"path": root},
            _ST.fromJson(_json.loads(schema_json)), snap, root)
        rdr.pushFilters([EqualTo(("k",), target)])
        t0 = time.monotonic()
        parts = rdr.partitions()
        row[f"t_plan_{k}"] = round(time.monotonic() - t0, 3)
        row[f"planned_tasks_{k}"] = len(parts)
        # rss_mb_* is the PROCESS high-water and the 1M synth
        # dominates it; store_mb_* is the ENGINE's actual resident
        # checkpoint weight (the byte-budgeted cache's own metric)
        # sampled on the VECTOR path, before the legacy loop below
        # loads the full meta column for its before/after number
        row[f"rss_mb_{k}"] = _rss_mb()
        row[f"store_mb_{k}"] = round(T._store_weight(
            snap["files"]._store) / 1e6, 1)
        if n_files > 1_000_000:
            continue  # opt-in 10M tier: skip the legacy loop —
            # ~70 s of json.loads that says nothing the 1M
            # before/after doesn't already pin
        # before/after honesty: the same plan through the per-file
        # json.loads loop — a snapshot whose file map is a plain
        # dict never vectorizes; the timed span includes parsing
        # every meta, as the r13 loop did
        t0 = time.monotonic()
        snap_l = {**snap, "files": dict(snap["files"].items())}
        rdr_l = T.TxLogBatchReader(
            {"path": root},
            _ST.fromJson(_json.loads(schema_json)), snap_l, root)
        rdr_l.pushFilters([EqualTo(("k",), target)])
        parts_l = rdr_l.partitions()
        row[f"t_plan_legacy_{k}"] = round(time.monotonic() - t0, 3)
        assert len(parts_l) == len(parts)
        del snap_l, rdr_l
    for phase in ("snapshot_cold", "prune", "plan"):
        row[f"exp_{phase}_10k_100k"] = round(math.log10(max(
            row[f"t_{phase}_x100k"], 1e-3) / max(
            row[f"t_{phase}_x10k"], 1e-3)), 3)
        row[f"exp_{phase}_100k_1m"] = round(math.log10(max(
            row[f"t_{phase}_x1m"], 1e-3) / max(
            row[f"t_{phase}_x100k"], 1e-3)), 3)
        if "t_snapshot_cold_x10m" in row:
            row[f"exp_{phase}_1m_10m"] = round(math.log10(max(
                row[f"t_{phase}_x10m"], 1e-3) / max(
                row[f"t_{phase}_x1m"], 1e-3)), 3)
    row["pruned_ok"] = all(row[f"files_candidate_{k}"] == 1
                           for k, _ in tiers) \
        and row["planned_tasks_x1m"] == 1 \
        and all(row[f"files_touched_{k}"] <= 2 for k, _ in tiers)
    # r14 over-gate contract: the digest plans exactly the files
    # the 5M-key span covers (5000 + the suffix file), at both
    # distributed tiers
    row["overgate_ok"] = all(
        row.get(f"files_touched_overgate_{k}", 5001) <= 5001
        for k in ("x100k", "x1m"))
    # r14 t_plan CONTRACT (VERDICT r13 #1): the vectorized
    # stats_parsed plan path must beat the r13 json.loads loop by
    # >= 5x at the 1M tier and stay under an absolute 2 s bound
    # (r13 measured 6.6 s; the vector path measures ~0.35 s cold)
    row["plan_fast_ok"] = (
        row["t_plan_x1m"] <= 2.0
        and row["t_plan_legacy_x1m"]
        >= 5 * max(row["t_plan_x1m"], 1e-3))
    # r15 MEMORY contract (VERDICT r14 #1): past _CP_STREAM_BYTES
    # the prune/merge/plan paths STREAM the stats projection one
    # row group at a time — the engine-resident store weight at the
    # 1M tier must stay far below the r14 resident figure (356 MB;
    # streamed measures ~KB) and the streamed plan path must hold
    # the r14 time class
    row["store_ok"] = (row["store_mb_x1m"] <= 100.0
                      and row["t_prune_x1m"] <= 2.0)
    if "store_mb_x10m" in row:
        # opt-in 10M-tier contract (informational — tier absent on
        # the default run): streamed resolution keeps the engine-
        # resident store O(row group) one decade further out, and
        # the prune holds linear time (10x the 1M tier's 2 s bound)
        row["store_ok_x10m"] = (row["store_mb_x10m"] <= 100.0
                                and row["t_prune_x10m"] <= 20.0)
    # drop the synthesized tiers (the 1M tier alone is ~100 MB of
    # checkpoint + a million-entry dir) so later legs / adjudication
    # re-runs don't inherit this leg's page-cache churn (VERDICT
    # r14 #3 — suite-order false flags)
    import shutil as _sh
    for k, _n in tiers:
        _sh.rmtree(os.path.join(WORK, f"txmeta{k}"),
                   ignore_errors=True)
    return row


def run_txlog_native_sink_leg(spark) -> dict:
    """E25's drain rate (r12 second stint): a full table-to-table
    NATIVE pipeline — readStream("txlogstream") ->
    writeStream("txlog") — availableNow-drained at x10/x100 over
    the stream leg's corpus (reused). Rows/s is END-TO-END (decode
    + arrow task write + stats/commit), the counters are the
    durable claims: the destination row count equals the source
    exactly (exactly-once through BOTH native edges), and every
    destination commit is one stream-append per micro-batch."""
    from gcp_data_engineering_workshop_spark.sources import txlog as T

    from pyspark.sql import functions as F

    T.register(spark)
    row: dict = {}
    for k, (n_rows, n_commits) in (("x10", (150_000, 5)),
                                   ("x100", (1_500_000, 50))):
        src = os.path.join(WORK, f"txstream{k}", "t")
        if not os.path.exists(os.path.join(
                os.path.dirname(src), "_DONE")):
            # same corpus the stream-drain leg builds (shared)
            per = n_rows // n_commits
            for c in range(n_commits):
                T.append(spark.range(c * per, (c + 1) * per)
                         .select(F.col("id"),
                                 (F.col("id") * 3 % 997).alias("v"))
                         .repartition(4),
                         src, checkpoint_every=0)
            open(os.path.join(os.path.dirname(src), "_DONE"),
                 "w").write("")
        dst = os.path.join(WORK, f"txnsink{k}", "t")
        ck = os.path.join(WORK, f"txnsink{k}", "ck")
        import shutil as _sh
        _sh.rmtree(os.path.dirname(dst), ignore_errors=True)
        t0 = time.monotonic()
        q = (spark.readStream.format("txlogstream")
             .option("path", src).load()
             .writeStream.format("txlog").option("path", dst)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(600)
        t = round(time.monotonic() - t0, 3)
        got = T.read(spark, dst).count()
        assert got == n_rows, (got, n_rows)
        ops = {h["op"] for h in T.history(dst)}
        assert ops == {"stream-append"}, ops
        row[f"t_{k}"] = t
        row[f"rows_per_s_{k}"] = round(n_rows / t, 1)
        row[f"dst_files_{k}"] = len(T.snapshot(dst)["files"])
    row["exp_10_100"] = round(
        math.log10(row["t_x100"] / row["t_x10"]), 3)
    return row


def run_avrolite_stream_leg(spark) -> dict:
    """E21's executor-parallel stream reader measured the way D27's
    was (txlog_stream_drain): rows/s through a readStream ->
    foreachBatch(count) drain of a landing-zone directory at
    x10/x100. Expect the same shape: a ~flat exponent
    (startup-dominated at these sizes)."""
    from pyspark.sql import functions as F

    from gcp_data_engineering_workshop_spark.sources.avrolite import (
        register_avrolite)

    register_avrolite(spark)
    row: dict = {}

    def drain(path):
        counts = []
        rdr = (spark.readStream.format("avrolite")
               .option("path", path))
        t0 = time.monotonic()
        q = (rdr.load().writeStream
             .foreachBatch(lambda df, bid: counts.append(df.count()))
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return round(time.monotonic() - t0, 3), sum(counts)

    for k, (n_rows, n_files) in (("x10", (100_000, 4)),
                                 ("x100", (1_000_000, 8))):
        path = os.path.join(WORK, f"avstream{k}")
        if not os.path.exists(os.path.join(path, "_PROBE_DONE")):
            per = n_rows // n_files
            for c in range(n_files):
                (spark.range(c * per, (c + 1) * per)
                 .select(F.col("id"),
                         (F.col("id") * 3 % 997).alias("v"),
                         F.concat(F.lit("doc-"), F.col("id"))
                         .alias("tag"))
                 .coalesce(1)
                 .write.format("avrolite").option("path", path)
                 .option("records_per_block", "5000")
                 .mode("append").save())
                time.sleep(0.02)  # distinct mtimes: stable order
            open(os.path.join(path, "_PROBE_DONE"), "w").write("")
        t, got = drain(path)
        assert got == n_rows, (got, n_rows)
        row[f"t_{k}"] = t
        row[f"rows_per_s_{k}"] = round(got / t, 1)
    row["exp_10_100"] = round(
        math.log10(row["t_x100"] / row["t_x10"]), 3)
    return row


def run_txlog_partition_leg(spark) -> dict:
    """The hive-partitioned layout's 100-TB claim (r11): a
    partition-scoped read_where must cost ~one PARTITION, not the
    table. Fixed partition size (150k rows), partition COUNT grows
    10 -> 100 across the decade — so the pruned scan's wall time
    should stay ~FLAT (exp ~0) while the table grows 10x, and the
    candidate set must be exactly the target partition's files.
    Also times a partition-scoped delete_where and records how many
    files it rewrote (bounded by the partition, at both scales)."""
    from pyspark.sql import functions as F

    from gcp_data_engineering_workshop_spark.sources import txlog as T

    row: dict = {}
    per_part = 150_000
    for k, n_parts in (("x10", 10), ("x100", 100)):
        root = os.path.join(WORK, f"txpart{k}", "t")
        import shutil as _sh
        _sh.rmtree(os.path.dirname(root), ignore_errors=True)
        n_rows = per_part * n_parts
        df = (spark.range(n_rows)
              .select(F.col("id"),
                      (F.col("id") % n_parts).cast("int").alias("p"),
                      (F.col("id") * 7 % 1000).alias("v"))
              .repartition(n_parts, "p"))
        T.append(df, root, partition_by=["p"], checkpoint_every=0)
        snap = T.snapshot(root)
        cand = T._files_possibly_matching(
            snap, T._parse_conjuncts("p = 3"))
        row[f"n_files_{k}"] = len(snap["files"])
        row[f"files_candidate_{k}"] = len(cand)
        row[f"prune_exact_{k}"] = all(
            c.startswith("p=3/") for c in cand)
        t0 = time.monotonic()
        got = T.read_where(spark, root, "p = 3").count()
        row[f"t_scan_{k}"] = round(time.monotonic() - t0, 3)
        assert got == per_part, (got, per_part)
        t0 = time.monotonic()
        T.delete_where(spark, root, "p = 3 AND v < 500",
                       checkpoint_every=0)
        row[f"t_delete_{k}"] = round(time.monotonic() - t0, 3)
        row[f"files_rewritten_{k}"] = T.history(root)[-1]["n_remove"]
        spark.catalog.clearCache()
    row["exp_scan_10_100"] = round(
        math.log10(row["t_scan_x100"] / row["t_scan_x10"]), 3)
    row["exp_delete_10_100"] = round(
        math.log10(row["t_delete_x100"] / row["t_delete_x10"]), 3)
    row["pruned_ok"] = (
        row["prune_exact_x10"] and row["prune_exact_x100"]
        # candidate set = one partition's files at BOTH scales (the
        # count must not grow with the table), and the delete only
        # rewrites within it
        and row["files_candidate_x100"] <= row["files_candidate_x10"]
        and row["files_rewritten_x10"] <= row["files_candidate_x10"]
        and row["files_rewritten_x100"] <= row["files_candidate_x100"])
    return row


def run_txlog_pushdown_leg(spark) -> dict:
    """The NATIVE batch source's 100-TB claim (r12 second stint): a
    pushed range filter on spark.read.format("txlog") must plan ~a
    constant number of files while the table grows 10x in FILE
    COUNT (fixed ~150k-row files via repartitionByRange through the
    native WRITER — so the leg also measures write throughput on
    the arrow task path). Contract counters, not timers: the
    reader's survivor set for the pushed conjuncts stays flat
    across the decade and the pruned fraction falls ~10x; the scan
    result is exact either way (pushdown is IO skipping only)."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan
    from pyspark.sql.types import StructType as _ST

    from gcp_data_engineering_workshop_spark.sources import txlog as T

    T.register(spark)
    row: dict = {}
    per_file = 150_000
    lo, hi = 460_000, 500_000  # inside one ~150k-row range file
    for k, n_files in (("x10", 10), ("x100", 100)):
        root = os.path.join(WORK, f"txpd{k}", "t")
        import shutil as _sh
        _sh.rmtree(os.path.dirname(root), ignore_errors=True)
        n_rows = per_file * n_files
        df = (spark.range(n_rows)
              .select(F.col("id").alias("k"),
                      (F.col("id") * 7 % 1000).alias("v"))
              .repartitionByRange(n_files, "k")
              .sortWithinPartitions("k"))
        t0 = time.monotonic()
        df.write.format("txlog").mode("append").save(root)
        t_w = time.monotonic() - t0
        row[f"t_write_{k}"] = round(t_w, 3)
        row[f"write_rows_s_{k}"] = int(n_rows / t_w)
        snap = T.snapshot(root)
        row[f"n_files_{k}"] = len(snap["files"])
        rdr = T.TxLogBatchReader(
            {"path": root},
            _ST.fromJson(_json.loads(snap["schema"])), snap, root)
        rdr.pushFilters([GreaterThanOrEqual(("k",), lo),
                         LessThan(("k",), hi)])
        cand = rdr._kept_paths()
        row[f"files_candidate_{k}"] = len(cand)
        # planned-file PERCENTAGE (renamed from the ambiguous
        # pruned_fraction_x100_* — VERDICT r12 nit)
        row[f"planned_pct_{k}"] = round(
            100.0 * len(cand) / len(snap["files"]), 2)
        t0 = time.monotonic()
        got = (spark.read.format("txlog").load(root)
               .where(f"k >= {lo} AND k < {hi}").count())
        row[f"t_scan_{k}"] = round(time.monotonic() - t0, 3)
        assert got == hi - lo, (got, hi - lo)
        spark.catalog.clearCache()
    row["exp_scan_10_100"] = round(
        math.log10(row["t_scan_x100"] / row["t_scan_x10"]), 3)
    row["pruned_ok"] = (
        # survivor count must not grow with the table (range
        # boundaries are sampled, so allow one boundary straddle)
        row["files_candidate_x100"] <= row["files_candidate_x10"] + 1
        and row["files_candidate_x100"] <= 3
        and row["planned_pct_x100"]
        <= row["planned_pct_x10"] / 5)
    return row


def main() -> None:
    if len(sys.argv) > 1:
        rnd = int(sys.argv[1])
    else:
        done = [int(m.group(1)) for f in glob.glob("PROBE_r*.json")
                if (m := re.search(r"PROBE_r(\d+)\.json", f))]
        rnd = (max(done) + 1) if done else 7
    out_path = f"PROBE_r{rnd:02d}.json"

    spark = get_spark("probe",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    only = {s for s in os.environ.get(
        "SPARK_GRAFT_PROBE_ONLY", "").split(",") if s}

    results: dict[str, dict] = {}
    try:
        dirs = {k: build_docs_dir(k) for k in SCALES}
        for name, fn in PANEL:
            if only and name not in only:
                continue
            row = {}
            # EQUAL-WARMTH timing (r15 second stint): one untimed
            # x10 pass per leg before the timed passes. In-suite,
            # earlier legs leave the JVM/codegen/page cache warm,
            # so a COLD-x100-after-WARM-x10 leg inflates its
            # exponent — span_dedup_keep_first false-flagged three
            # rounds running on exactly this (r15: 0.918 in-panel
            # vs 0.155 solo, raw x100 at its best). Warming both
            # timed passes measures the leg's SCALING, not its
            # position in the suite. r15 records both forms; r16's
            # exponents are first baselines on this methodology.
            fn(spark, dirs[10]).count()
            spark.catalog.clearCache()
            for k in SCALES:
                t0 = time.monotonic()
                row[f"rows_x{k}"] = fn(spark, dirs[k]).count()
                row[f"t_x{k}"] = round(time.monotonic() - t0, 3)
                spark.catalog.clearCache()
            row["exp_10_100"] = round(
                math.log10(row["t_x100"] / row["t_x10"]), 3)
            results[name] = row
            print(f"## {name}: {row}", flush=True)
        if not only or "knn_graph_ivf_edges" in only:
            results["knn_graph_ivf_edges"] = run_knn_ivf_leg(spark)
            print(f"## knn_graph_ivf_edges: "
                  f"{results['knn_graph_ivf_edges']}", flush=True)
        if not only or "knn_two_level" in only:
            results["knn_two_level"] = run_knn_two_level_leg(spark)
            print(f"## knn_two_level: {results['knn_two_level']}",
                  flush=True)
        if not only or "ann_index_topk" in only:
            results["ann_index_topk"] = run_ann_index_leg(spark)
            print(f"## ann_index_topk: {results['ann_index_topk']}",
                  flush=True)
        if not only or "avrolite_zonemap" in only:
            results["avrolite_zonemap"] = run_avrolite_zonemap_leg(
                spark)
            print(f"## avrolite_zonemap: "
                  f"{results['avrolite_zonemap']}", flush=True)
        if not only or "txlog_merge_scale" in only:
            results["txlog_merge_scale"] = run_txlog_merge_scale_leg(
                spark)
            print(f"## txlog_merge_scale: "
                  f"{results['txlog_merge_scale']}", flush=True)
        if not only or "txlog_bloom_point" in only:
            results["txlog_bloom_point"] = run_txlog_bloom_leg(spark)
            print(f"## txlog_bloom_point: "
                  f"{results['txlog_bloom_point']}", flush=True)
        if not only or "txlog_dv_scale" in only:
            results["txlog_dv_scale"] = run_txlog_dv_scale_leg(spark)
            print(f"## txlog_dv_scale: "
                  f"{results['txlog_dv_scale']}", flush=True)
        if not only or "txlog_stream_drain" in only:
            results["txlog_stream_drain"] = run_txlog_stream_leg(
                spark)
            print(f"## txlog_stream_drain: "
                  f"{results['txlog_stream_drain']}", flush=True)
        if not only or "txlog_partition_prune" in only:
            results["txlog_partition_prune"] = \
                run_txlog_partition_leg(spark)
            print(f"## txlog_partition_prune: "
                  f"{results['txlog_partition_prune']}", flush=True)
        if not only or "txlog_metadata_scale" in only:
            results["txlog_metadata_scale"] = \
                run_txlog_metadata_scale_leg(spark)
            print(f"## txlog_metadata_scale: "
                  f"{results['txlog_metadata_scale']}", flush=True)
        if not only or "txlog_native_sink_drain" in only:
            results["txlog_native_sink_drain"] = \
                run_txlog_native_sink_leg(spark)
            print(f"## txlog_native_sink_drain: "
                  f"{results['txlog_native_sink_drain']}", flush=True)
        if not only or "txlog_pushdown_prune" in only:
            results["txlog_pushdown_prune"] = \
                run_txlog_pushdown_leg(spark)
            print(f"## txlog_pushdown_prune: "
                  f"{results['txlog_pushdown_prune']}", flush=True)
        if not only or "avrolite_stream_drain" in only:
            results["avrolite_stream_drain"] = \
                run_avrolite_stream_leg(spark)
            print(f"## avrolite_stream_drain: "
                  f"{results['avrolite_stream_drain']}", flush=True)
    finally:
        spark.stop()

    # compare against the LATEST ROUND STRICTLY BEFORE rnd (the
    # lexicographic tail could be a newer round when re-running an
    # old one, which would invert the comparison)
    prev_rounds = sorted(
        (int(m.group(1)), f) for f in glob.glob("PROBE_r*.json")
        if (m := re.search(r"PROBE_r(\d+)\.json", f))
        and int(m.group(1)) < rnd)
    regressions = []
    adjudications = []
    if prev_rounds:
        prev_file = prev_rounds[-1][1]
        prev = json.load(open(prev_file))
        for name, row in results.items():
            p = prev.get("results", {}).get(name)
            # legs without a decade exponent (avrolite's block
            # counters) have nothing to compare
            if p and "exp_10_100" in row and "exp_10_100" in p \
                    and row["exp_10_100"] - p["exp_10_100"] > 0.2:
                regressions.append(
                    {"query": name, "prev_exp": p["exp_10_100"],
                     "exp": row["exp_10_100"], "prev_file": prev_file})
    # ADJUDICATE flagged PANEL legs IN-HARNESS (VERDICT r14 #3):
    # the 1M-file metadata tier churns the page cache, so a panel
    # leg that ran cold can flag on suite order, not code. Re-run
    # each flagged panel leg now (tiers done, box as quiet as this
    # process gets) and write the adjudication INTO the artifact —
    # a closed flag moves out of `regressions`, so a future reader
    # never has to cross-reference PLANS.
    flagged_panel = [r for r in regressions
                     if any(r["query"] == nm for nm, _ in PANEL)]
    if flagged_panel:
        spark2 = get_spark("probe-adjudicate", extra_conf={
            "spark.ui.showConsoleProgress": "false"})
        spark2.sparkContext.setLogLevel("ERROR")
        try:
            dirs = {k: build_docs_dir(k) for k in SCALES}
            for r in list(flagged_panel):
                fn = dict(PANEL)[r["query"]]
                rerun = {}
                fn(spark2, dirs[10]).count()  # equal-warmth, as
                spark2.catalog.clearCache()   # in the main pass
                for k in SCALES:
                    t0 = time.monotonic()
                    rerun[f"rows_x{k}"] = fn(spark2, dirs[k]).count()
                    rerun[f"t_x{k}"] = round(
                        time.monotonic() - t0, 3)
                    spark2.catalog.clearCache()
                rerun["exp_10_100"] = round(math.log10(
                    rerun["t_x100"] / rerun["t_x10"]), 3)
                closed = (rerun["exp_10_100"] - r["prev_exp"]
                          <= 0.2)
                adjudications.append({
                    **r, "rerun_exp": rerun["exp_10_100"],
                    "rerun_t_x100": rerun["t_x100"],
                    "status": "closed" if closed else "reproduced"})
                if closed:
                    regressions.remove(r)
                    results[r["query"]] = rerun
                print(f"## adjudicated {r['query']}: "
                      f"{adjudications[-1]}", flush=True)
        finally:
            spark2.stop()
    # re-runs merge into an existing same-round file instead of
    # clobbering results this run didn't produce (ONLY-mode legs,
    # preserved counterexample records)
    if os.path.exists(out_path):
        prior = json.load(open(out_path))
        merged = dict(prior.get("results", {}))
        merged.update(results)
        results = merged
    blob = {"round": rnd, "scales": list(SCALES),
            "results": results, "regressions": regressions,
            "adjudications": adjudications}
    json.dump(blob, open(out_path, "w"), indent=1)
    print(json.dumps(blob))
    if regressions:
        print(f"SCALE REGRESSION: {regressions}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
