"""The metadata plane at scale (VERDICT r12 #1): columnar parquet
checkpoints, the per-(root, version) snapshot cache, lazy file maps,
legacy-JSON compatibility, torn-checkpoint degradation, and the
vectorized checkpoint prune's equivalence with the per-file
reference (the same snapshot with a plain-dict file map)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from gcp_data_engineering_workshop_spark.sources import txlog as T


def _ids(df):
    return sorted(r[0] for r in df.select("id").collect())


def _plain(snap):
    """``snap`` with a plain-dict file map: the pruners never
    vectorize it, so it answers with the per-file reference."""
    return {**snap, "files": dict(snap["files"].items())}


def _mk(spark, root, commits=12, every=5):
    for i in range(commits):
        T.append(spark.range(i * 2, i * 2 + 2), root,
                 checkpoint_every=every)


def test_columnar_checkpoint_layout(spark, tmp_path):
    """New checkpoints are JSON meta + a files parquet sidecar; the
    JSON carries no inline file entries — only the EMPTY legacy
    stub that routes pre-columnar readers to the feature gate
    (ADVICE r14)."""
    root = str(tmp_path / "t")
    _mk(spark, root)
    log = os.path.join(root, T.LOG_DIR)
    cp = json.load(open(os.path.join(
        log, f"checkpoint-{10:0{T._W}d}.json")))
    assert cp["files"] == {}
    assert cp["files_parquet"] == \
        f"checkpoint-{10:0{T._W}d}.files.parquet"
    assert cp["num_files"] == 20
    assert os.path.exists(os.path.join(log, cp["files_parquet"]))
    snap = T.snapshot(root)
    assert isinstance(snap["files"], T._LazyFiles)
    assert _ids(T.read(spark, root)) == list(range(24))


def test_legacy_json_checkpoint_still_reads(spark, tmp_path):
    """Tables checkpointed by earlier rounds carry inline "files"
    JSON — snapshot() must keep resolving them unchanged."""
    root = str(tmp_path / "t")
    _mk(spark, root, commits=7, every=0)  # no checkpoints
    snap = T.snapshot(root)
    log = os.path.join(root, T.LOG_DIR)
    with open(os.path.join(
            log, f"checkpoint-{5:0{T._W}d}.json"), "w") as fh:
        json.dump({"version": 5,
                   "files": dict(T.snapshot(root, 5)["files"]),
                   "txn": {}, "schema": snap["schema"],
                   "partition_by": [], "colmap": {},
                   "phys_dropped": [], "features": []}, fh)
    T._SNAPSHOTS.clear()
    s2 = T.snapshot(root)
    assert isinstance(s2["files"], dict)
    assert dict(s2["files"]) == dict(snap["files"])
    assert _ids(T.read(spark, root)) == list(range(14))


def test_torn_checkpoint_degrades_to_older(spark, tmp_path):
    """A checkpoint JSON whose parquet sidecar is missing (torn
    write / partial copy) is skipped: resolution falls back to the
    previous checkpoint (or a full replay) — slower, never wrong."""
    root = str(tmp_path / "t")
    _mk(spark, root)  # checkpoints at 5 and 10
    log = os.path.join(root, T.LOG_DIR)
    os.unlink(os.path.join(
        log, f"checkpoint-{10:0{T._W}d}.files.parquet"))
    T._SNAPSHOTS.clear()
    T._CP_STORES.clear()
    snap = T.snapshot(root)
    assert _ids(T.read(spark, root)) == list(range(24))
    assert len(snap["files"]) == 24
    # ...and with every checkpoint torn, full replay still resolves
    os.unlink(os.path.join(
        log, f"checkpoint-{5:0{T._W}d}.files.parquet"))
    T._SNAPSHOTS.clear()
    T._CP_STORES.clear()
    assert _ids(T.read(spark, root)) == list(range(24))


def test_checkpoint_incremental_build_after_dml(spark, tmp_path):
    """A checkpoint built on top of a previous columnar checkpoint
    (filter + append on arrow buffers) equals the full state —
    through deletes, dv re-adds and overwrites."""
    root = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).alias("g"))
    T.append(df, root, checkpoint_every=2)          # v1
    T.append(df.where("id >= 100"), root, checkpoint_every=2)  # v2+cp
    T.delete_where(spark, root, "g = 3", checkpoint_every=2)   # v3
    T.update_where(spark, root, "g = 4", {"g": "99"},
                   checkpoint_every=2)                         # v4+cp
    loaded = T._load_checkpoint(root, 4)
    assert loaded is not None
    _meta, cp_files = loaded
    T._SNAPSHOTS.clear()
    full = T.snapshot(root, 4)["files"]
    assert dict(cp_files.items()) == dict(full.items())
    got = T.read(spark, root)
    assert got.where("g = 3").count() == 0
    assert got.where("g = 99").count() == 10


def test_snapshot_cache_hits_and_isolation(spark, tmp_path):
    """Repeated snapshot() calls for one (root, version) resolve
    from the cache; callers get isolated copies (suffix replay into
    one snapshot never leaks into another); a recreated table under
    the same path is NOT served stale."""
    root = str(tmp_path / "t")
    _mk(spark, root, commits=6, every=5)
    s1 = T.snapshot(root)
    key = (os.path.abspath(root), s1["version"])
    assert any(k[:2] == key for k in T._SNAPSHOTS)
    s2 = T.snapshot(root)
    assert dict(s1["files"]) == dict(s2["files"])
    p = next(iter(s2["files"]))
    s2["files"].pop(p, None)
    s2["txn"]["x"] = 1
    s3 = T.snapshot(root)
    assert p in s3["files"] and "x" not in s3["txn"]
    # same path, new table: the head version file's identity changed
    shutil.rmtree(root)
    T.append(spark.range(3), root, checkpoint_every=0)
    for _ in range(5):
        T.append(spark.range(3), root, checkpoint_every=0)
    assert T.snapshot(root)["version"] == 6
    assert T.read(spark, root).count() == 18


def test_distributed_prune_matches_driver_loop(spark, tmp_path):
    """The vectorized prune over the columnar checkpoint returns
    exactly the per-file driver loop's surviving set — including
    suffix adds, suffix removes and dv shadows."""
    root = str(tmp_path / "t")
    df = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 50).alias("g"))
    # several commits so files cluster by range; checkpoint at v4
    for i in range(4):
        T.append(df.where((F.col("k") >= i * 125)
                          & (F.col("k") < (i + 1) * 125)),
                 root, checkpoint_every=4)
    # suffix beyond the checkpoint: new add + a dv delete (re-add)
    T.append(spark.range(500, 520).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("g")),
        root, checkpoint_every=0)
    T.delete_where(spark, root, "k = 10", checkpoint_every=0,
                   mode="dv")
    snap = T.snapshot(root)
    assert isinstance(snap["files"], T._LazyFiles)
    store = snap["files"]._store
    types = T._schema_types(snap)
    for conj in ([("k", "=", 130)], [("k", ">=", 400)],
                 [("k", "<", 50), ("g", "=", 3)],
                 [("k", "=", 510)], [("g", "notnull", None)],
                 [("k", "in", (3, 130, 412))],
                 [("k", "<=", 200.5)], [("k", "=", 130.0)]):
        # the checkpoint rows really ride the vectorized kernel
        assert T._cp_vector_prune(store, conj, types, set(), {},
                                  None) is not None, conj
        vec = sorted(T._files_possibly_matching(
            snap, conj, root, spark))
        driver = sorted(T._files_possibly_matching(
            _plain(snap), conj, root, spark))
        assert vec == driver, conj
    # and the pruned read itself stays hash-correct
    got = sorted(r[0] for r in T.read_where(
        spark, root, "k >= 400 and k < 410").select("k").collect())
    assert got == list(range(400, 410))


def test_lazy_files_survive_full_scan_paths(spark, tmp_path):
    """describe / history / optimize / vacuum / restore / clone all
    walk the lazy map like a dict."""
    root = str(tmp_path / "t")
    _mk(spark, root)
    d = T.describe(root)
    assert d["num_files"] == 24 and d["total_bytes"] > 0
    T.optimize(spark, root, checkpoint_every=1)  # v13, checkpointed
    assert _ids(T.read(spark, root)) == list(range(24))
    dst = str(tmp_path / "c")
    T.clone(root, dst)
    assert _ids(T.read(spark, dst)) == list(range(24))
    # restore to the pre-optimize file set (checkpointed, so the
    # folded file drops out of the newest reference set)...
    v = T.restore(root, version=12, checkpoint_every=1)
    assert v == 14 and _ids(T.read(spark, root)) == list(range(24))
    # ...and vacuum reclaims the now-unreferenced optimize output
    assert T.vacuum(root, retention_seconds=0)
    assert _ids(T.read(spark, root)) == list(range(24))


def test_distributed_merge_prune_matches_driver(spark, tmp_path):
    """The merge touch test over the columnar checkpoint (the
    vectorized pass) returns exactly the per-file reference's file
    set — single and composite keys, bloom refinement, NaN float
    keys, suffix adds and dv shadows."""
    root = str(tmp_path / "t")
    T.set_bloom_index(root, ["k"])
    df = spark.range(600).select(
        F.col("id").alias("k"), (F.col("id") % 6).alias("g"),
        (F.col("id") % 97).cast("double").alias("f"))
    for i in range(4):  # range-clustered files, checkpoint at v5
        T.append(df.where((F.col("k") >= i * 150)
                          & (F.col("k") < (i + 1) * 150))
                 .coalesce(1), root, checkpoint_every=5)
    T.append(df.where("k < 10").coalesce(1), root,
             checkpoint_every=5)  # v5 + columnar checkpoint
    T.append(spark.range(600, 650).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("g"),
        F.lit(0.5).alias("f")).coalesce(1), root,
        checkpoint_every=0)  # suffix add
    T.delete_where(spark, root, "k = 160", checkpoint_every=0,
                   mode="dv")  # suffix dv shadow
    snap = T.snapshot(root)
    assert isinstance(snap["files"], T._LazyFiles)
    bloom_cols = set(snap["bloom"]["cols"])

    def mk_updates(rows, schema):
        return spark.createDataFrame(rows, schema)

    cases = [
        (mk_updates([(155,), (610,)], "k bigint"), ["k"],
         "vectorized"),
        (mk_updates([(5, 2), (300, 0)], "k bigint, g bigint"),
         ["k", "g"], "vectorized"),
        # a NaN key leaves no column that can exclude: every entry
        # takes the per-file test
        (mk_updates([(float("nan"),)], "f double"), ["f"],
         "driver-loop"),
        (mk_updates([(999999,)], "k bigint"), ["k"], "vectorized"),
    ]
    for ups, keys, regime in cases:
        driver = T._files_touching_keys(
            spark, dict(snap["files"].items()), ups, keys, root,
            bloom_cols, snap.get("colmap"))
        assert T.last_merge_plan()["regime"] == "driver-loop"
        vec = T._files_touching_keys(
            spark, snap["files"], ups, keys, root,
            bloom_cols, snap.get("colmap"))
        assert T.last_merge_plan()["regime"] == regime, keys
        assert vec == driver, (keys, vec, driver)
    # ...and a real merge through the vectorized plan stays exact
    ups = spark.range(100, 110).select(
        F.col("id").alias("k"), F.lit(99).cast("long").alias("g"),
        F.lit(1.0).alias("f"))
    T.merge_upsert(spark, root, ups, "k", checkpoint_every=0)
    assert T.last_merge_plan()["regime"] == "vectorized"
    got = T.read(spark, root)
    assert got.where("g = 99").count() == 10
    assert got.where("k = 160").count() == 0  # dv held
    # 600 + 10 duplicated k<10 rows + 50 suffix - 1 dv-deleted;
    # the merge replaces its 10 matched rows in place
    assert got.count() == 659


def test_distributed_merge_prune_partitioned_and_mapped(
        spark, tmp_path):
    """Partitioned AND column-mapped tables ride the vectorized
    merge touch test too — effective stats (typed partition tokens
    as [v, v], physical->logical re-keying) feed the checkpoint
    pass, so pruning matches the per-file reference exactly and a
    real merge stays correct."""
    root = str(tmp_path / "t")
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("p"),
        F.concat(F.lit("n"), F.col("id")).alias("name"))
    T.append(df, root, checkpoint_every=1, partition_by=["p"])
    T.rename_column(root, "k", "key")  # colmap epoch
    snap = T.snapshot(root)
    assert isinstance(snap["files"], T._LazyFiles)
    ups = spark.createDataFrame(
        [(101, 1, "xx"), (105, 1, "yy")],  # both rows live in p=1
        "key bigint, p bigint, name string")
    kwargs = dict(
        snap_root=root, bloom_cols=set(),
        colmap=snap.get("colmap"),
        types=T._schema_types(snap), inv=T._inv_colmap(snap))
    driver = T._files_touching_keys(
        spark, snap["files"].copy(), ups, ["key", "p"], **kwargs)
    vec = T._files_touching_keys(
        spark, snap["files"], ups, ["key", "p"], **kwargs)
    assert T.last_merge_plan()["regime"] == "vectorized"
    assert vec == driver
    # partition-token pruning is LIVE in the kernel: only p=1 files
    assert driver and all("p=1" in f for f in driver)
    # end-to-end merge through the vectorized plan
    T.merge_upsert(spark, root, ups, ["key", "p"],
                   checkpoint_every=0)
    got = T.read(spark, root)
    assert got.count() == 400
    assert sorted(r[0] for r in got.where("key in (101, 105)")
                  .select("name").collect()) == ["xx", "yy"]


def test_merge_keyed_on_date_partition_column(spark, tmp_path):
    """ADVICE r14 high: r13's ISO date partition tokens give date
    columns STRING [lo,hi] stats, but a merge keyed on the date
    column collects datetime.date keys — the bisect raised
    TypeError and crashed the daily-upsert shape this feature
    targets. Keys now normalize to the ISO string domain
    (mirroring _lit_norm); the merge must prune to the target date
    partition AND stay correct, on the per-file reference and the
    vectorized pass (string tokens against string keys), for upsert
    and delete."""
    import datetime

    root = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   (F.col("id") % 5).cast("int")).alias("ds"),
        (F.col("id") * 2).alias("v"))
    T.append(df, root, checkpoint_every=1, partition_by=["ds"])
    T._SNAPSHOTS.clear()  # resolve THROUGH the checkpoint
    snap = T.snapshot(root)
    assert isinstance(snap["files"], T._LazyFiles)
    ups = spark.createDataFrame(
        [(7, datetime.date(2024, 1, 3), 999)],
        "id bigint, ds date, v bigint")  # id=7 lives in ds=01-03
    kwargs = dict(snap_root=root, bloom_cols=set(),
                  colmap=snap.get("colmap"),
                  types=T._schema_types(snap),
                  inv=T._inv_colmap(snap))
    driver = T._files_touching_keys(
        spark, dict(snap["files"].items()), ups, ["ds", "id"],
        **kwargs)
    # date-token pruning is LIVE: only the 2024-01-03 partition
    assert driver and all("ds=2024-01-03" in f for f in driver)
    vec = T._files_touching_keys(
        spark, snap["files"], ups, ["ds", "id"], **kwargs)
    assert T.last_merge_plan()["regime"] == "vectorized"
    assert vec == driver
    # ds alone: the string-key coarse pass must prune on its own
    ds_only = T._files_touching_keys(
        spark, snap["files"], ups.select("ds"), ["ds"], **kwargs)
    assert T.last_merge_plan()["regime"] == "vectorized"
    assert ds_only == T._files_touching_keys(
        spark, dict(snap["files"].items()), ups.select("ds"),
        ["ds"], **kwargs)
    assert ds_only and all("ds=2024-01-03" in f for f in ds_only)
    # end-to-end upsert through the vectorized plan
    T.merge_upsert(spark, root, ups, ["ds", "id"],
                   checkpoint_every=0)
    got = T.read(spark, root)
    assert got.count() == 100
    assert got.where("id = 7").select("v").collect()[0][0] == 999
    # merge_delete keyed on the date column alone (string-stat
    # bisect against pure date keys)
    T.merge_delete(
        spark, root,
        spark.createDataFrame([(datetime.date(2024, 1, 4),)],
                              "ds date"),
        "ds", checkpoint_every=0)
    left = T.read(spark, root)
    assert left.count() == 80
    assert left.where("ds = date'2024-01-04'").count() == 0


def test_small_checkpointed_merge_plans_vectorized(spark, tmp_path):
    """A string-keyed and a numeric-keyed merge on a SMALL table
    with a stats_parsed checkpoint plan through the vectorized
    kernel (no size switch sends them to the per-file loop) and
    touch exactly the files the per-file reference touches."""
    root = str(tmp_path / "t")
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.format_string("u%04d", F.col("id")).alias("s"),
        (F.col("id") * 2).alias("v"))
    for i in range(3):  # range-clustered files on BOTH keys
        T.append(df.where((F.col("k") >= i * 100)
                          & (F.col("k") < (i + 1) * 100))
                 .coalesce(1), root, checkpoint_every=1)
    snap = T.snapshot(root)
    assert snap["files"]._store.has_stats()
    for keys, rows, schema in (
            ("s", [("u0150", 0)], "s string, v bigint"),
            ("k", [(150, 0)], "k bigint, v bigint")):
        ups = spark.createDataFrame(rows, schema)
        ref = T._files_touching_keys(
            spark, dict(snap["files"].items()), ups, keys, root,
            set(), {})
        got = T._files_touching_keys(
            spark, snap["files"], ups, keys, root, set(), {})
        plan = T.last_merge_plan()
        assert plan["regime"] == "vectorized", (keys, plan)
        assert plan["key_regimes"] == {keys: "keys"}
        assert got == ref and len(got) == 1, (keys, got, ref)
    # the public verbs plan the same way
    T.merge_upsert(spark, root, spark.createDataFrame(
        [(7, "u0007", -1)], "k bigint, s string, v bigint"), "s",
        checkpoint_every=1)
    assert T.last_merge_plan()["regime"] == "vectorized"
    T.merge_delete(spark, root, spark.createDataFrame(
        [(250,)], "k bigint"), "k", checkpoint_every=1)
    assert T.last_merge_plan()["regime"] == "vectorized"
    got = T.read(spark, root)
    assert got.count() == 299
    assert got.where("s = 'u0007'").select("v").collect()[0][0] == -1


def test_columnar_checkpoint_gates_legacy_readers(spark, tmp_path):
    """ADVICE r14: the columnar checkpoint JSON must carry (a) an
    empty legacy ``files`` stub and (b) the 'columnar-checkpoint'
    table feature — a pre-columnar reader (which does
    ``dict(cp['files'])`` and THEN checks features) loads cleanly
    and refuses with the intended UnsupportedTableFeature, never a
    raw KeyError. Current readers treat the feature as supported."""
    root = str(tmp_path / "t")
    T.append(spark.range(10).selectExpr("id", "id*2 as v"), root,
             checkpoint_every=1)
    cps = T._list_checkpoints(root)
    assert cps
    cp = json.load(open(os.path.join(
        T._log_path(root), f"checkpoint-{cps[-1]:0{T._W}d}.json")))
    # (a) the stub a legacy reader indexes without KeyError
    assert cp["files"] == {}
    # (b) the protocol stamp a legacy reader's feature gate trips on
    assert "columnar-checkpoint" in cp["features"]
    legacy_supported = {"deletion-vectors", "column-mapping",
                        "generated-columns"}
    assert set(cp["features"]) - legacy_supported  # legacy refuses
    # current readers: feature is supported, reads unchanged, and
    # the FORMAT stamp never leaks into snapshot semantics
    assert "columnar-checkpoint" in T.SUPPORTED_FEATURES
    T._SNAPSHOTS.clear()  # resolve THROUGH the checkpoint
    snap = T.snapshot(root)
    assert "columnar-checkpoint" not in snap["features"]
    assert T.read(spark, root).count() == 10


def test_stats_parsed_columns_in_checkpoint(spark, tmp_path):
    """r14 (VERDICT r13 #1): checkpoints carry typed stats_parsed
    columns — s_lo/s_hi by schema type, s_nn/s_nr null counts,
    s_pt/s_pn partition tokens — and the incremental build carries
    them forward on arrow buffers."""
    import pyarrow.parquet as pq

    root = str(tmp_path / "t")
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("p"),
        (F.col("id") / 7.0).alias("f"),
        F.concat(F.lit("n"), F.col("id")).alias("s"))
    T.append(df, root, checkpoint_every=1, partition_by=["p"])
    cp = T._load_checkpoint(root, 1)
    assert cp is not None
    tbl = cp[1]._store.table()
    names = set(tbl.schema.names)
    assert {"s_lo:k", "s_hi:k", "s_lo:f", "s_hi:f",
            "s_lo:s", "s_hi:s", "s_pt:p", "s_pn:p"} <= names
    assert str(tbl.schema.field("s_lo:k").type) == "int64"
    assert str(tbl.schema.field("s_lo:f").type) == "double"
    assert str(tbl.schema.field("s_lo:s").type) == "string"
    # token cells populated, not-null flags false
    assert tbl.column("s_pt:p").null_count == 0
    assert tbl.column("s_pn:p").to_pylist().count(False) \
        == tbl.num_rows
    # incremental carry: append + re-checkpoint keeps the columns
    T.append(df.where("k < 5"), root, checkpoint_every=2)
    cp2 = T._load_checkpoint(root, 2)
    assert cp2 is not None
    t2 = cp2[1]._store.table()
    assert {"s_lo:k", "s_pt:p"} <= set(t2.schema.names)
    assert t2.column("s_lo:k").null_count == 0


def test_vector_prune_plan_path_no_spark(spark, tmp_path):
    """The format("txlog") PLAN path (no Spark handle inside
    planning) rides the vectorized stats_parsed prune: partitions()
    must plan only the stat-surviving files, identical to the
    per-file reference, without parsing every meta."""
    import json as _json

    from pyspark.sql.datasource import EqualTo
    from pyspark.sql.types import StructType as _ST

    root = str(tmp_path / "t")
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    for i in range(4):
        T.append(df.where((F.col("k") >= i * 100)
                          & (F.col("k") < (i + 1) * 100))
                 .coalesce(1), root, checkpoint_every=4)
    T._SNAPSHOTS.clear()  # resolve THROUGH the checkpoint
    snap = T.snapshot(root)
    assert snap["files"]._store.has_stats()
    schema = _ST.fromJson(_json.loads(snap["schema"]))
    rdr = T.TxLogBatchReader({"path": root}, schema, snap, root)
    rdr.pushFilters([EqualTo(("k",), 150)])
    parts = rdr.partitions()
    assert len(parts) == 1 and len(parts[0].files) == 1
    # identical to the per-file reference (plain-dict file map)
    rdr2 = T.TxLogBatchReader({"path": root}, schema, _plain(snap),
                              root)
    rdr2.pushFilters([EqualTo(("k",), 150)])
    parts2 = rdr2.partitions()
    assert [p.files for p in parts] == [p.files for p in parts2]


def test_over_gate_merge_key_digest(spark, tmp_path, monkeypatch):
    """VERDICT r13 #4: when the distinct merge keys exceed the
    collect gate, the vectorized touch test runs a VALUE-RANGE
    bucket digest instead of the collected keys. The digest is
    sound (never under-touches: every range containing a key
    answers True) and the end-to-end merge through the digest
    regime stays exact."""
    import numpy as np

    root = str(tmp_path / "t")
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), (F.col("id") % 7)).alias("s"),
        (F.col("id") * 2).alias("v"))
    for i in range(4):
        T.append(df.where((F.col("k") >= i * 500)
                          & (F.col("k") < (i + 1) * 500))
                 .coalesce(1), root, checkpoint_every=4)
    T._SNAPSHOTS.clear()  # resolve THROUGH the checkpoint
    snap = T.snapshot(root)
    assert isinstance(snap["files"], T._LazyFiles)
    # updates clustered in [1000, 1100): digest must touch ONLY
    # the [1000, 1500) file even with the collect gate forced shut
    ups = spark.range(1000, 1100).select(
        F.col("id").alias("k"), F.lit("zz").alias("s"),
        F.lit(0).cast("long").alias("v"))
    exact = T._files_touching_keys(
        spark, dict(snap["files"].items()), ups, ["k"], root,
        set(), {})
    monkeypatch.setattr(T, "_KEY_COLLECT_BOUND", 0)
    dig = T._files_touching_keys(
        spark, snap["files"], ups, ["k"], root, set(), {})
    plan = T.last_merge_plan()
    assert plan["regime"] == "vectorized"
    assert plan["key_regimes"] == {"k": "digest"}
    assert set(dig) >= set(exact)
    assert len(dig) == 1, dig  # clustered keys: same single file
    # end-to-end merge THROUGH the digest regime stays exact
    T.merge_upsert(spark, root, ups, "k", checkpoint_every=0)
    monkeypatch.setattr(T, "_KEY_COLLECT_BOUND", 2_000_000)
    got = T.read(spark, root)
    assert got.count() == 2000
    assert got.where("s = 'zz'").count() == 100
    assert got.where("k = 1050").select("v").collect()[0][0] == 0

    # digest soundness, brute force: every [lo, hi] containing a
    # key answers may_intersect True (num AND str domains)
    for col, vals in (("k", list(range(300, 420, 3))),
                      ("s", [f"s{i}" for i in range(7)])):
        dg = T._key_digest(
            df.where(F.col("k").between(300, 420)) if col == "k"
            else df, col)
        assert dg is not None
        import random
        rnd = random.Random(7)
        for _ in range(300):
            if col == "k":
                a, b = sorted((rnd.randint(250, 470),
                               rnd.randint(250, 470)))
            else:
                a, b = sorted((f"s{rnd.randint(0, 9)}",
                               f"s{rnd.randint(0, 9)}"))
            has = any(a <= v <= b for v in vals)
            got_mi = dg.may_intersect(a, b)
            assert got_mi or not has, (col, a, b)


def test_key_digest_edges(spark):
    """Digest edge domains: all-NULL keys (empty digest matches
    nothing), NaN float keys (has_nan rides the digest), date keys
    (ISO string domain), domain-mismatched stats (conservative
    True)."""
    import datetime

    ups = spark.createDataFrame([(None,), (None,)], "k double")
    dg = T._key_digest(ups, "k")
    assert dg.empty and not dg.may_intersect(0.0, 1e9)
    ups2 = spark.createDataFrame(
        [(1.0,), (float("nan"),)], "k double")
    dg2 = T._key_digest(ups2, "k")
    assert dg2.has_nan and dg2.may_intersect(0.5, 2.0)
    ups3 = spark.createDataFrame(
        [(datetime.date(2024, 1, 3),)], "ds date")
    dg3 = T._key_digest(ups3, "ds")
    assert dg3.kind == "str"
    assert dg3.may_intersect("2024-01-01", "2024-01-04")
    assert not dg3.may_intersect("2024-01-04", "2024-01-09")
    # stats in a foreign domain can never exclude
    assert dg3.may_intersect(0, 100)


def test_key_digest_utf16_vs_codepoint_order(spark):
    """ADVICE r15 medium: Spark F.min/F.max orders strings by
    UTF-16 code units, where surrogate pairs (supplementary-plane
    chars like emoji) sort BELOW U+E000..U+FFFF; Python/parquet
    stats compare by code point. A raw kmin/kmax compare against
    Spark's UTF-16 extrema could wrongly exclude a file whose stat
    range holds a live supplementary-plane key. The digest must
    answer True for every present key's exact [v, v] span."""
    emoji = "\U0001f600"           # > U+FFFF by code point
    high_bmp = "￿"            # > emoji by UTF-16 code units
    ups = spark.createDataFrame(
        [(emoji,), (high_bmp,), ("a",)], "s string")
    dg = T._key_digest(ups, "s")
    assert dg is not None and dg.kind == "str"
    # footer stats of a file holding only the emoji key: Python
    # (code-point) comparison says emoji > Spark's UTF-16 kmax
    for v in (emoji, high_bmp, "a"):
        assert dg.may_intersect(v, v), repr(v)
    # exclusion power survives in the projection domain
    assert not dg.may_intersect("Z", "`")


def test_streamed_prune_matches_resident(spark, tmp_path,
                                         monkeypatch):
    """VERDICT r14 #1: with the stream threshold forced to 0 the
    vectorized prune, merge touch test, and native plan path all
    ride stats_stream() one row group at a time — identical
    survivor sets to the resident regime, and the engine-resident
    store weight stays ~KB (no stats projection pinned)."""
    root = str(tmp_path / "t")
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 40).alias("g"))
    for i in range(4):
        T.append(df.where((F.col("k") >= i * 100)
                          & (F.col("k") < (i + 1) * 100)),
                 root, checkpoint_every=4)
    T.append(spark.range(400, 420).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("g")),
        root, checkpoint_every=0)
    snap = T.snapshot(root)
    conjs = ([("k", "=", 130)], [("k", ">=", 300)],
             [("k", "<", 50), ("g", "=", 3)],
             [("k", "in", (3, 130, 412))])
    resident = [sorted(T._files_possibly_matching(
        snap, c, root, None)) for c in conjs]
    ups = spark.createDataFrame([(130,), (131,)], "k bigint")
    touched_res = sorted(T._files_touching_keys(
        spark, snap["files"], ups, "k", root, set(), {}))
    assert touched_res == T._files_touching_keys(
        spark, dict(snap["files"].items()), ups, "k", root, set(), {})

    # fresh caches, streaming forced on for every checkpoint; the
    # merge rides the vectorized regime at every table size
    T._SNAPSHOTS.clear()
    T._CP_STORES.clear()
    monkeypatch.setattr(T, "_CP_STREAM_BYTES", 0)
    snap2 = T.snapshot(root)
    streamed = [sorted(T._files_possibly_matching(
        snap2, c, root, None)) for c in conjs]
    assert streamed == resident
    touched_st = sorted(T._files_touching_keys(
        spark, snap2["files"], ups, "k", root, set(), {}))
    assert T.last_merge_plan()["regime"] == "vectorized"
    assert touched_st == touched_res
    # the streamed regime must not have pinned the stats projection
    st = snap2["files"]._store
    assert st._tbl is None and st._stats_tbl is None
    assert T._store_weight(st) < 256 * 1024
    # pruned reads stay value-correct through the streamed plans
    got = sorted(r[0] for r in T.read_where(
        spark, root, "k >= 300 and k < 310").select("k").collect())
    assert got == list(range(300, 310))


def test_streamed_prune_unselective_multi_rowgroup(tmp_path,
                                                   monkeypatch):
    """Regression (r15): the streamed prune's UNSELECTIVE fallback
    (survivors > max(10k, n/4) — a sequential filtered pass instead
    of a scattered take) advanced its mask offset by the FILTERED
    row count, so every row group after the first read a misaligned
    mask slice — wrong (unsound) survivor sets whenever the first
    groups kept few rows. Pin: a 60k-file checkpoint in 8k-row
    groups, a half-keeping predicate whose survivors all live in
    the UPPER row groups, exact expected survivor set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema_json = json.dumps({
        "type": "struct", "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "v", "type": "double", "nullable": True,
             "metadata": {}}]})
    root = str(tmp_path / "t")
    log = os.path.join(root, T.LOG_DIR)
    os.makedirs(log)
    n_files = 60_000
    paths = [f"part-{i:07d}.parquet" for i in range(n_files)]
    mdicts = [{"path": p, "bytes": 1 << 20, "rows": 1000,
               "stats": {"k": [i * 1000, (i + 1) * 1000 - 1],
                         "v": [0.0, 9.0]},
               "nulls": {"k": [0, 1000], "v": [0, 1000]}}
              for i, p in enumerate(paths)]
    with open(os.path.join(log, f"{1:0{T._W}d}.json"), "w") as fh:
        json.dump({"op": "append", "ts": 0.0, "actions": [],
                   "schema": schema_json}, fh)
    cp_parquet = f"checkpoint-{1:0{T._W}d}.files.parquet"
    cols = {"path": pa.array(paths, type=pa.string()),
            "meta": pa.array([json.dumps(m) for m in mdicts],
                             type=pa.string())}
    cols.update(T._cp_stat_arrays(
        mdicts, {"k": "bigint", "v": "double"}, {}))
    pq.write_table(pa.table(cols), os.path.join(log, cp_parquet),
                   row_group_size=8192)
    with open(os.path.join(log, f"checkpoint-{1:0{T._W}d}.json"),
              "w") as fh:
        json.dump({"version": 1, "files_parquet": cp_parquet,
                   "num_files": n_files, "txn": {},
                   "schema": schema_json, "partition_by": [],
                   "colmap": {}, "phys_dropped": [],
                   "features": []}, fh)
    T._SNAPSHOTS.clear()
    T._CP_STORES.clear()
    monkeypatch.setattr(T, "_CP_STREAM_BYTES", 0)  # force streamed
    snap = T.snapshot(root)
    cut = 30_000_017  # files i >= 30001 survive (file 30000 ends
    # at 30000999 >= cut too): expected set is exact and entirely
    # in the upper half — the buggy offset walk returned garbage
    got = T._files_possibly_matching(
        snap, [("k", ">=", cut)], root, None)
    expected = [f"part-{i:07d}.parquet"
                for i in range(30_000, n_files)]
    assert sorted(got) == expected
    st = snap["files"]._store
    assert st._tbl is None and st._stats_tbl is None  # streamed


def test_bytes_aware_cache_across_many_tables(spark, tmp_path):
    """VERDICT r13 #8: the snapshot/store caches bound by BYTES,
    not depth — a session round-robining 12 small tables keeps
    every snapshot AND store hit (the old depth-8 LRU thrashed),
    while the budgets still bound a genuinely heavy store set."""
    import time as _time

    roots = []
    for i in range(12):
        r = str(tmp_path / f"t{i}")
        T.append(spark.range(i * 10, i * 10 + 10)
                 .selectExpr("id", "id*2 as v"), r,
                 checkpoint_every=1)
        roots.append(r)
    T._SNAPSHOTS.clear()
    T._CP_STORES.clear()
    for r in roots:  # cold pass fills both caches
        T.snapshot(r)
    assert len(T._SNAPSHOTS) == 12  # nothing evicted
    # warm pass: every table resolves from cache — no store reload
    # (stores were created once; a hit returns the same object)
    before = {id(s) for s in T._CP_STORES.values()}
    t0 = _time.monotonic()
    for r in roots * 3:
        snap = T.snapshot(r)
        st = snap["files"]._store
        assert id(st) in before  # the cached store, not a reload
    assert _time.monotonic() - t0 < 1.0  # ~0ms per warm snapshot
    assert len(T._SNAPSHOTS) == 12 and len(T._CP_STORES) == 12
    # the byte budget still evicts: shrink it and touch one more
    orig = T._CP_STORES_BYTES
    try:
        T._CP_STORES_BYTES = 1  # everything but the newest goes
        extra = str(tmp_path / "t99")
        T.append(spark.range(5), extra, checkpoint_every=1)
        T._SNAPSHOTS.clear()  # force resolution through _cp_store
        T.snapshot(extra)
        assert len(T._CP_STORES) == 1
    finally:
        T._CP_STORES_BYTES = orig
