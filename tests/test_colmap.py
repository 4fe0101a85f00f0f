"""E22: column mapping — RENAME/DROP COLUMN as metadata-only
commits (sources/txlog.py, the Delta column-mapping name mode from
the public description): files keep their PHYSICAL column names
forever; the log maps logical->physical and every read path
translates. Zero bytes rewritten by a rename on any size table."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gcp_data_engineering_workshop_spark.sources import txlog as T


def _n_files(root):
    n = 0
    for dirpath, dirs, files in os.walk(root):
        if os.path.basename(dirpath) == T.LOG_DIR:
            dirs[:] = []
            continue
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


@pytest.fixture
def table(spark, tmp_path):
    root = str(tmp_path / "tbl")
    T.append(spark.range(20).select(
        "id", (F.col("id") * 2).alias("v")).coalesce(1),
        root, checkpoint_every=0)
    return root


def test_rename_is_metadata_only_and_reads_translate(spark, table):
    before = _n_files(table)
    v_pre = T.snapshot(table)["version"]
    T.rename_column(table, "v", "value", checkpoint_every=0)
    assert _n_files(table) == before  # zero bytes rewritten
    df = T.read(spark, table)
    assert df.columns == ["id", "value"]
    assert df.where("value = 10").collect()[0].id == 5
    # time travel returns the OLD name; history records the rename
    assert T.read(spark, table, version=v_pre).columns == ["id", "v"]
    h = T.history(table)[-1]
    assert (h["op"], h["old"], h["new"]) == \
        ("rename-column", "v", "value")
    assert T.describe(table)["colmap"] == {"value": "v"}


def test_rename_then_append_merge_dml_prune(spark, table):
    """Post-rename writes land PHYSICALLY under the original name;
    stat pruning, predicate DML, merge keys and read_range all
    speak the logical name."""
    T.rename_column(table, "v", "value", checkpoint_every=0)
    T.append(spark.range(20, 25).select(
        "id", (F.col("id") * 2).alias("value")).coalesce(1),
        table, checkpoint_every=0)
    assert T.read(spark, table).count() == 25
    # the new file's footer stats are keyed by the PHYSICAL name
    snap = T.snapshot(table)
    newest = max(snap["files"].values(), key=lambda m: m["path"])
    assert all("v" in m["stats"] and "value" not in m["stats"]
               for m in snap["files"].values())
    # pruning on the logical name: only the file covering [40,48]
    cand = T._files_possibly_matching(
        snap, T._parse_conjuncts("value >= 40"))
    assert len(cand) == 1
    assert sorted(r.value for r in T.read_range(
        spark, table, "value", lo=0, hi=6).collect()) == [0, 2, 4, 6]
    assert T.read_where(spark, table, "value <= 6").count() == 4
    T.update_where(spark, table, "value = 48", {"value": "47"},
                   checkpoint_every=0)
    T.delete_where(spark, table, "value >= 40", checkpoint_every=0)
    T.merge_upsert(spark, table, spark.createDataFrame(
        [(3, 999)], "id bigint, value bigint"), "id",
        checkpoint_every=0)
    got = dict((r.id, r.value) for r in T.read(spark, table).collect())
    assert got[3] == 999 and got[19] == 38 and 20 not in got
    assert max(got.values()) == 999


def test_rename_refusals(spark, tmp_path):
    root = str(tmp_path / "tbl")
    df = spark.range(10).select("id", (F.col("id") % 2).alias("k"))
    T.append(df, root, partition_by=["k"], checkpoint_every=0)
    T.add_constraint(root, "pos", "id >= 0", checkpoint_every=0)
    with pytest.raises(ValueError, match="partition column"):
        T.rename_column(root, "k", "bucket")
    with pytest.raises(ValueError, match="constraint"):
        T.rename_column(root, "id", "ident")
    with pytest.raises(ValueError, match="no column"):
        T.rename_column(root, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        T.rename_column(root, "id", "k")
    with pytest.raises(ValueError, match="constraint"):
        T.drop_column(root, "id")


def test_evolution_collision_gets_fresh_physical(spark, table):
    """After rename v->value, evolving a NEW column named 'v' must
    not resurrect the old bytes: it maps to a fresh physical."""
    T.rename_column(table, "v", "value", checkpoint_every=0)
    T.merge_upsert(spark, table, spark.createDataFrame(
        [(100, 1, 7.5)], "id bigint, value bigint, v double"),
        "id", merge_schema=True, checkpoint_every=0)
    cmap = T.snapshot(table)["colmap"]
    assert cmap["value"] == "v" and cmap["v"].startswith("v_")
    rows = {r.id: r.v for r in T.read(spark, table).collect()}
    assert rows[100] == 7.5
    assert rows[0] is None  # old physical 'v' data NOT resurrected


def test_drop_column_tombstones_physical(spark, table):
    """DROP is metadata-only; re-adding the same logical name later
    maps to a fresh physical so dropped bytes never resurface."""
    before = _n_files(table)
    T.drop_column(table, "v", checkpoint_every=0)
    assert _n_files(table) == before
    assert T.read(spark, table).columns == ["id"]
    assert T.snapshot(table)["phys_dropped"] == ["v"]
    T.merge_upsert(spark, table, spark.createDataFrame(
        [(100, 5.0)], "id bigint, v double"),
        "id", merge_schema=True, checkpoint_every=0)
    rows = {r.id: r.v for r in T.read(spark, table).collect()}
    assert rows[100] == 5.0 and rows[0] is None
    with pytest.raises(ValueError, match="last column"):
        for c in list(T.read(spark, table).columns):
            T.drop_column(table, c, checkpoint_every=0)


def test_restore_rolls_mapping_back_and_forward(spark, table):
    v_pre = T.snapshot(table)["version"]
    T.rename_column(table, "v", "value", checkpoint_every=0)
    v_post = T.snapshot(table)["version"]
    T.restore(table, v_pre, checkpoint_every=0)
    assert T.read(spark, table).columns == ["id", "v"]
    T.restore(table, v_post, checkpoint_every=0)
    assert T.read(spark, table).columns == ["id", "value"]


def test_colmap_with_deletion_vectors_and_cdf(spark, table):
    T.rename_column(table, "v", "value", checkpoint_every=0)
    lo = T.snapshot(table)["version"]
    T.delete_where(spark, table, "value < 6", mode="dv",
                   checkpoint_every=0)
    assert sorted(r.value for r in
                  T.read(spark, table).collect())[:2] == [6, 8]
    feed = T.read_changes_rows(spark, table, from_version=lo)
    assert sorted((r.id, r._change_type) for r in feed.collect()) \
        == [(0, "delete"), (1, "delete"), (2, "delete")]
    # file-level feed translates too
    assert "value" in T.read_changes(
        spark, table, from_version=lo).columns


def test_change_feed_spans_overwrite_of_renamed_table(spark, table):
    """ADVICE r12 (low): a change-feed window spanning an OVERWRITE
    of a previously renamed table must read each commit's files
    through its own epoch's colmap — the overwrite resets the map,
    so the pre-overwrite files (physical 'v' under logical 'val')
    would surface NULL through the window-end (empty) mapping."""
    T.rename_column(table, "v", "val", checkpoint_every=0)
    T.append(spark.range(20, 25).select(
        "id", (F.col("id") * 2).alias("val")).coalesce(1),
        table, checkpoint_every=0)
    T.overwrite(spark.range(100, 103).select(
        "id", (F.col("id") * 3).alias("val")).coalesce(1), table)
    feed = T.read_changes(spark, table, from_version=0)
    rows = {r.id: r.val for r in feed.collect()}
    # pre-overwrite rows surface their values, not NULL
    assert rows[0] == 0 and rows[24] == 48
    # post-overwrite rows read through the reset (identity) map
    assert rows[100] == 300
    assert all(v is not None for v in rows.values())
    # a rename AFTER the overwrite re-bases correctly too: the
    # newest epoch reads through the end colmap, older epochs
    # rename-trace the end-logical name down to their boundary
    T.rename_column(table, "val", "w", checkpoint_every=0)
    T.append(spark.range(200, 202).select(
        "id", (F.col("id") * 5).alias("w")).coalesce(1),
        table, checkpoint_every=0)
    feed2 = T.read_changes(spark, table, from_version=0)
    rows2 = {r.id: r.w for r in feed2.collect()}
    assert rows2[0] == 0 and rows2[24] == 48 \
        and rows2[100] == 300 and rows2[201] == 1005
    assert all(v is not None for v in rows2.values())


def test_clone_and_optimize_carry_mapping(spark, table, tmp_path):
    T.rename_column(table, "v", "value", checkpoint_every=0)
    dst = str(tmp_path / "clone")
    T.clone(table, dst, checkpoint_every=0)
    assert T.read(spark, dst).columns == ["id", "value"]
    assert T.read(spark, dst).where("value = 10").count() == 1
    # a rewrite (OPTIMIZE) stays physically keyed: reads unchanged
    T.append(spark.range(20, 23).select(
        "id", (F.col("id") * 2).alias("value")), table,
        checkpoint_every=0)
    T.optimize(spark, table, checkpoint_every=0)
    assert sorted(r.value for r in T.read(
        spark, table).collect())[-1] == 44
    snap = T.snapshot(table)
    assert all("v" in m["stats"] for m in snap["files"].values())


def test_stream_readers_under_mapping(spark, table):
    """The stream reader translates physical names via the mapping
    bound when it opened."""
    T.rename_column(table, "v", "value", checkpoint_every=0)
    T.append(spark.range(20, 22).select(
        "id", (F.col("id") * 2).alias("value")), table,
        checkpoint_every=0)
    from gcp_data_engineering_workshop_spark.sources.txlog import (
        TxLogStreamDataSource)
    try:
        spark.dataSource.register(TxLogStreamDataSource)
    except Exception as e:
        if "ALREADY_EXISTS" not in str(e):
            raise
    got = []
    q = (spark.readStream.format("txlogstream")
         .option("path", table).load()
         .writeStream.foreachBatch(
             lambda df, _b: got.extend(df.collect()))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert sorted(r.value for r in got) == sorted(
        [i * 2 for i in range(22)])


# ------------------------------------------------------------------ #
# protocol table features (r11 third stint)
# ------------------------------------------------------------------ #


def test_features_recorded_and_monotone(spark, table):
    import json
    assert T.snapshot(table)["features"] == []
    T.delete_where(spark, table, "id = 1", mode="dv",
                   checkpoint_every=0)
    assert T.snapshot(table)["features"] == ["deletion-vectors"]
    v_dv = T.snapshot(table)["version"]
    T.rename_column(table, "v", "value", checkpoint_every=0)
    assert T.snapshot(table)["features"] == \
        ["column-mapping", "deletion-vectors"]
    assert T.describe(table)["features"] == \
        ["column-mapping", "deletion-vectors"]
    # a second dv delete does NOT restamp (monotone, no noise)
    T.delete_where(spark, table, "id = 2", mode="dv",
                   checkpoint_every=0)
    e = json.load(open(T._version_file(
        table, T.snapshot(table)["version"])))
    assert "features" not in e
    # time travel before the rename replays the smaller set
    assert T.snapshot(table, v_dv)["features"] == \
        ["deletion-vectors"]
    # features ride checkpoints; the checkpoint JSON additionally
    # stamps its own FORMAT feature (ADVICE r14: pre-columnar
    # readers refuse with UnsupportedTableFeature instead of a raw
    # KeyError) which is format metadata, NOT table semantics — it
    # never surfaces in snapshot features
    v = T.snapshot(table)["version"]
    T._maybe_checkpoint(table, v, 1)
    cp = json.load(open(os.path.join(
        T._log_path(table), f"checkpoint-{v:0{T._W}d}.json")))
    assert "columnar-checkpoint" in cp["features"]
    T._SNAPSHOTS.clear()  # force resolution THROUGH the checkpoint
    assert T.snapshot(table)["features"] == \
        ["column-mapping", "deletion-vectors"]


def test_unknown_feature_refuses_every_access(spark, table):
    """A table written by a future implementation with a feature
    this reader lacks must refuse EVERY access (snapshot-level
    check), not silently misread."""
    import json
    import os
    import time as _time
    v = T.snapshot(table)["version"] + 1
    entry = {"op": "append", "ts": _time.time(), "actions": [],
             "features": ["vacuum-protocol-v9"]}
    tmp = os.path.join(T._log_path(table), "tmp-x.part")
    json.dump(entry, open(tmp, "w"))
    os.link(tmp, T._version_file(table, v))
    os.unlink(tmp)
    with pytest.raises(T.UnsupportedTableFeature, match="v9"):
        T.read(spark, table)
    with pytest.raises(T.UnsupportedTableFeature):
        T.append(spark.range(3).select(
            "id", (F.col("id") * 2).alias("v")), table)
    # time travel BEFORE the foreign commit still works
    assert T.read(spark, table, version=v - 1).count() == 20


# ------------------------------------------------------------------ #
# generated columns (r11 third stint)
# ------------------------------------------------------------------ #


def test_generated_compute_validate_and_partition(spark, tmp_path):
    """GENERATED ALWAYS AS: omitted columns compute, provided ones
    validate (a contradiction refuses), and a generated PARTITION
    column gives pruning on writes that never supplied it."""
    root = str(tmp_path / "tbl")
    base = spark.range(30).selectExpr("id", "id * 10 as v")
    T.append(base, root, partition_by=["bucket"],
             generated={"bucket": "id % 3"}, checkpoint_every=0)
    assert T.describe(root)["generated"] == {"bucket": "id % 3"}
    assert "generated-columns" in T.snapshot(root)["features"]
    got = sorted((r.id, r.bucket) for r in
                 T.read(spark, root).collect())
    assert got == [(i, i % 3) for i in range(30)]
    # partition pruning on the generated column
    assert sorted(r.id for r in T.read_where(
        spark, root, "bucket = 1").collect()) == \
        [i for i in range(30) if i % 3 == 1]
    # a later append inherits and computes
    T.append(spark.range(30, 33).selectExpr("id", "id * 10 as v"),
             root, checkpoint_every=0)
    assert T.read(spark, root).where("id = 31").collect()[0] \
        .bucket == 1
    # a provided CORRECT value passes; a contradiction refuses
    ok = spark.range(33, 34).selectExpr(
        "id", "id * 10 as v", "cast(id % 3 as bigint) as bucket")
    T.append(ok, root, checkpoint_every=0)
    bad = spark.range(34, 35).selectExpr(
        "id", "id * 10 as v", "cast(99 as bigint) as bucket")
    with pytest.raises(T.ConstraintViolation):
        T.append(bad, root, checkpoint_every=0)


def test_generated_recomputes_on_update(spark, tmp_path):
    """UPDATE of a source column recomputes the generated column
    (both write modes); assigning the generated column refuses."""
    root = str(tmp_path / "tbl")
    T.append(spark.range(20).selectExpr("id", "id as src"), root,
             generated={"twice": "src * 2"}, checkpoint_every=0)
    with pytest.raises(ValueError, match="GENERATED"):
        T.update_where(spark, root, "id = 1", {"twice": "5"})
    T.update_where(spark, root, "id < 3", {"src": "src + 100"},
                   checkpoint_every=0)
    T.update_where(spark, root, "id = 3", {"src": "src + 100"},
                   mode="dv", checkpoint_every=0)
    rows = {r.id: (r.src, r.twice) for r in
            T.read(spark, root).collect()}
    assert rows[0] == (100, 200) and rows[3] == (103, 206)
    assert rows[10] == (10, 20)
    # merge computes for omitted generated columns too
    T.merge_upsert(spark, root, spark.createDataFrame(
        [(50, 7)], "id bigint, src bigint"), "id",
        checkpoint_every=0)
    assert {r.twice for r in T.read(spark, root)
            .where("id = 50").collect()} == {14}


def test_generated_rename_drop_rules(spark, tmp_path):
    root = str(tmp_path / "tbl")
    T.append(spark.range(5).selectExpr("id", "id as src"), root,
             generated={"twice": "src * 2"}, checkpoint_every=0)
    with pytest.raises(ValueError, match="generated"):
        T.rename_column(root, "src", "s2")  # feeds the expression
    with pytest.raises(ValueError, match="generated"):
        T.rename_column(root, "twice", "t2")  # is generated
    with pytest.raises(ValueError, match="feeds"):
        T.drop_column(root, "src")
    # dropping the generated column itself removes its spec
    T.drop_column(root, "twice", checkpoint_every=0)
    assert T.snapshot(root)["generated"] == {}
    T.append(spark.range(5, 8).selectExpr("id", "id as src"), root,
             checkpoint_every=0)
    assert T.read(spark, root).count() == 8
