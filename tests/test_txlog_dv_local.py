"""r15 dv-path optimization parity: the size-gated driver-local
sidecar write and the fused hit-test/counts scan must reproduce the
distributed path's table state, CDF rows, and sidecar row SETS
exactly — across all three dv verbs, cumulative vectors, the
full-file drop shortcut, and the plausible-but-hitless no-op."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gcp_data_engineering_workshop_spark.operators import gate
from gcp_data_engineering_workshop_spark.sources import txlog as T

_driver_table = gate.driver_table


def _mk(spark, root, n=300, parts=3):
    for b in range(parts):
        T.append(spark.range(n).withColumn(
            "grp", (F.col("id") % 7).cast("int"))
            .where(F.col("id") % parts == b), root,
            checkpoint_every=0)


def _run_verbs(spark, root):
    T.delete_where(spark, root, "id % 13 = 0", mode="dv",
                   checkpoint_every=0)
    T.update_where(spark, root, "id % 5 = 1", {"grp": "grp + 10"},
                   mode="dv", checkpoint_every=0)
    T.merge_delete(
        spark,
        root,
        spark.range(0, 300, 17).select(F.col("id")),
        "id", mode="dv", checkpoint_every=0)


def _state(spark, root):
    rows = sorted((r.id, r.grp) for r in T.read(spark, root).collect())
    cdf = sorted((r.id, r._commit_version, r._change_type)
                 for r in T.read_changes_rows(
                     spark, root, from_version=0).collect())
    return rows, cdf


def _sidecar_rows(spark, root):
    """The SEMANTIC content of the current refs' sidecars: the set
    of row ids the vectors delete (physical file layout is not
    bit-stable across independent table builds — repartition
    assignment varies — so (file, pos) pairs are compared through
    the data they point at, which is the readers' contract)."""
    import pyarrow.parquet as pq

    snap = T.snapshot(root)
    refs = T._dv_refs(snap["files"], sorted(snap["files"]))
    if not refs:
        return set()
    by_file: dict[str, set] = {}
    for r in T._dv_table(spark, root, refs, for_join=False).collect():
        by_file.setdefault(r.file, set()).add(r.pos)
    name2path = {os.path.basename(p): p for p in snap["files"]}
    ids = set()
    for name, poss in by_file.items():
        col = pq.read_table(os.path.join(root, name2path[name]),
                            columns=["id"]).column("id").to_pylist()
        ids.update(col[p] for p in poss)
    return ids


def _gate_spy(monkeypatch, offset=None):
    """Record each dv gate decision made through the one helper as
    (exact position count n, driver regime?), checking that the
    caller passes the module bound. With ``offset`` the bound
    becomes each commit's own n + offset (0: the driver regime, the
    gate is <=; -1: the distributed write)."""
    seen = []

    def spy(df, bound, stats=None, n=None):
        assert bound == T._DV_LOCAL_POSITIONS
        if offset is not None:
            bound = n + offset
        tb = _driver_table(df, bound, stats, n=n)
        seen.append((n, tb is not None))
        return tb

    monkeypatch.setattr(gate, "driver_table", spy)
    return seen


def test_dv_local_matches_distributed(spark, tmp_path, monkeypatch):
    roots = {}
    for leg, offset in (("local", 0), ("dist", -1)):
        seen = _gate_spy(monkeypatch, offset)
        root = str(tmp_path / leg)
        _mk(spark, root)
        _run_verbs(spark, root)
        roots[leg] = (_state(spark, root), _sidecar_rows(spark, root))
        # one gate decision per dv commit, all on the leg's side
        assert len(seen) == 3
        assert all(local == (offset == 0) for _, local in seen)
    (state_l, sc_l), (state_d, sc_d) = roots["local"], roots["dist"]
    assert state_l == state_d
    assert sc_l == sc_d
    # the local leg actually wrote sidecars driver-side (one part
    # per dv dir, written by pyarrow not the Spark committer)
    dv_dir = os.path.join(str(tmp_path / "local"), T._DV_DIR)
    assert os.path.isdir(dv_dir) and os.listdir(dv_dir)


def test_dv_local_cumulative_and_full_file_drop(spark, tmp_path,
                                                monkeypatch):
    """Cumulative vectors carry through the local write, and a file
    whose every live row matches is dropped outright."""
    monkeypatch.setattr(T, "_DV_LOCAL_POSITIONS", 10_000_000)
    root = str(tmp_path / "t")
    T.append(spark.range(0, 50), root, checkpoint_every=0)   # file A
    T.append(spark.range(50, 60), root, checkpoint_every=0)  # file B
    T.delete_where(spark, root, "id % 2 = 0", mode="dv",
                   checkpoint_every=0)
    # second delete accumulates on file A's vector AND wipes file B
    T.delete_where(spark, root, "id % 3 = 0 or id >= 50", mode="dv",
                   checkpoint_every=0)
    left = sorted(r.id for r in T.read(spark, root).collect())
    assert left == [i for i in range(50)
                    if i % 2 and i % 3]
    snap = T.snapshot(root)
    files_v1 = set(T.snapshot(root, 1)["files"])
    # every second-append file (all rows matched) dropped outright;
    # every surviving file is a first-append file carrying a vector
    assert set(snap["files"]) <= files_v1
    assert all("dv" in m for m in snap["files"].values())
    # plausible-but-hitless predicate commits NO version (fused
    # hit test preserves the no-op contract)
    v = snap["version"]
    assert T.delete_where(spark, root, "id % 2 = 0", mode="dv",
                          checkpoint_every=0) == v
    assert T.merge_delete(spark, root,
                          spark.range(200, 210), "id",
                          mode="dv", checkpoint_every=0) == v
    assert T.update_where(spark, root, "id % 2 = 0", {"id": "id"},
                          mode="dv", checkpoint_every=0) == v


def test_dv_distributed_fallback_past_gate(spark, tmp_path,
                                           monkeypatch):
    """The dv bound pinned from both sides on one table: a commit
    of n positions at bound n - 1 takes the distributed write, the
    next (cumulative) commit at a bound of exactly its n the driver
    write; state stays exact."""
    seen = _gate_spy(monkeypatch)
    root = str(tmp_path / "t")
    T.append(spark.range(0, 100), root, checkpoint_every=0)
    monkeypatch.setattr(T, "_DV_LOCAL_POSITIONS", 49)
    T.delete_where(spark, root, "id % 2 = 0", mode="dv",
                   checkpoint_every=0)  # 50 positions > 49
    # 25 new positions + the 50 carried by every touched file
    monkeypatch.setattr(T, "_DV_LOCAL_POSITIONS", 75)
    T.delete_where(spark, root, "id % 4 = 1", mode="dv",
                   checkpoint_every=0)
    assert sorted(r.id for r in T.read(spark, root).collect()) == \
        list(range(3, 100, 4))
    assert seen == [(50, False), (75, True)]
