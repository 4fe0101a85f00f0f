"""The txlog commit protocol (``_transact``), driven through the
fileless ops so no Spark session starts: a lost race re-plans against
the new head and lands exactly one commit, a plan that returns a
version commits nothing, exhausted retries raise CommitConflict
naming the op, and a commit on the checkpoint cadence writes the
checkpoint. Also pins that clone keeps its constraints when another
writer takes a version first."""

from __future__ import annotations

import pytest

from gcp_data_engineering_workshop_spark.sources import txlog as T


def _racing(monkeypatch, root, at_version):
    """Patch ``_try_commit`` so our writer's first claim of
    ``at_version`` under ``root`` loses to a competing fileless
    commit landed there first. Returns the versions our writer
    tried to claim, in order."""
    real = T._try_commit
    tried: list[int] = []

    def racing(r, v, entry):
        if r == root:
            tried.append(v)
            if v == at_version and tried.count(v) == 1:
                assert real(r, v, {"op": "set-bloom", "ts": 0.0,
                                   "bloom": {}, "actions": []})
                return False
        return real(r, v, entry)

    monkeypatch.setattr(T, "_try_commit", racing)
    return tried


def test_lost_race_replans_and_lands_once(tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    T.set_bloom_index(root, ["k"])                          # v1
    tried = _racing(monkeypatch, root, at_version=2)
    v = T.add_constraint(root, "pos", "k >= 0")
    assert tried == [2, 3] and v == 3
    ops = [h["op"] for h in T.history(root)]
    assert ops == ["set-bloom", "set-bloom", "set-constraint"]
    assert T.snapshot(root)["constraints"] == {"pos": "k >= 0"}


def test_lost_race_replans_against_the_new_head(tmp_path,
                                                monkeypatch):
    root = str(tmp_path / "t")
    T.set_bloom_index(root, ["k"])                          # v1
    seen: list[int] = []

    def plan(snap):
        seen.append(snap["version"])
        return {"op": "drop-bloom", "ts": 0.0, "bloom": {},
                "actions": []}

    tried = _racing(monkeypatch, root, at_version=2)
    assert T._transact(root, plan, 5, 0, "probe") == 3
    assert seen == [1, 2] and tried == [2, 3]
    assert [h["op"] for h in T.history(root)] == \
        ["set-bloom", "set-bloom", "drop-bloom"]


def test_plan_returning_a_version_commits_nothing(tmp_path,
                                                  monkeypatch):
    root = str(tmp_path / "t")
    T.set_bloom_index(root, ["k"])
    calls: list[int] = []
    monkeypatch.setattr(T, "_try_commit",
                        lambda r, v, e: calls.append(v) or False)
    # a table with no files: the sidecar back-fill has nothing to do
    # (and never needs Spark to find that out)
    assert T.backfill_bloom_index(None, root) is None
    assert T._transact(root, lambda snap: snap["version"], 5, 10,
                       "probe") == 1
    assert calls == []
    assert T._list_versions(root) == [1]


def test_exhausted_retries_raise_naming_the_op(tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    T.set_bloom_index(root, ["k"])
    calls: list[int] = []
    monkeypatch.setattr(T, "_try_commit",
                        lambda r, v, e: calls.append(v) or False)
    with pytest.raises(T.CommitConflict,
                       match="add_constraint lost the version race "
                             "3 times"):
        T.add_constraint(root, "pos", "k >= 0", max_retries=3)
    assert calls == [2, 2, 2]
    with pytest.raises(T.CommitConflict, match="set_bloom_index"):
        T.set_bloom_index(root, ["k"], max_retries=2)
    assert T._list_versions(root) == [1]


def test_commit_on_cadence_writes_checkpoint(tmp_path):
    root = str(tmp_path / "t")
    assert T.set_bloom_index(root, ["k"], checkpoint_every=2) == 1
    assert T._list_checkpoints(root) == []
    assert T.add_constraint(root, "pos", "k >= 0",
                            checkpoint_every=2) == 2
    assert T._list_checkpoints(root) == [2]
    assert T.add_constraint(root, "big", "k < 100",
                            checkpoint_every=2) == 3
    assert T._list_checkpoints(root) == [2]
    T._SNAPSHOTS.clear()
    snap = T.snapshot(root)
    assert snap["constraints"] == {"pos": "k >= 0", "big": "k < 100"}
    assert snap["bloom"]["cols"] == ["k"]


def test_stream_sink_replay_stages_nothing(tmp_path):
    root = str(tmp_path / "t")
    T._stamp_txn(root, "app", 5)
    sink = T.stream_sink(root, app_id="app")
    # a replayed batch id returns before touching the frame
    sink(None, 3)
    sink(None, 5)
    assert T._list_versions(root) == [1]


def test_clone_keeps_constraints_under_a_lost_race(tmp_path,
                                                   monkeypatch):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    T.add_constraint(src, "pos", "id >= 0")
    tried = _racing(monkeypatch, dst, at_version=2)
    v = T.clone(src, dst)
    assert T.snapshot(dst)["constraints"] == {"pos": "id >= 0"}
    assert tried == [1, 2, 3] and v == 3
