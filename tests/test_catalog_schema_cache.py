"""catalog.load_table infers a table file's schema once: later loads
of the same unchanged file plan without a Spark job, a rewritten file
is inferred again, and the cache stays bounded."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from gcp_data_engineering_workshop_spark import catalog


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_nation(sf_dir, cols: dict) -> None:
    pq.write_table(pa.table(cols), str(sf_dir / "nation.parquet"))


def test_second_load_runs_no_job_and_same_schema(spark, tmp_path):
    _write_nation(tmp_path, {"n_nationkey": [1, 2], "n_name": ["a", "b"]})
    first, _ = _jobs_in_group(
        spark, "schema_cache_first",
        lambda: catalog.load_table(spark, "nation", str(tmp_path)))
    second, jobs = _jobs_in_group(
        spark, "schema_cache_second",
        lambda: catalog.load_table(spark, "nation", str(tmp_path)))
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    _write_nation(tmp_path, {"n_nationkey": [1, 2]})
    assert catalog.load_table(spark, "nation", str(tmp_path)).columns == [
        "n_nationkey"]
    _write_nation(tmp_path, {"n_nationkey": [1, 2],
                             "n_comment": ["x", "y"]})
    df = catalog.load_table(spark, "nation", str(tmp_path))
    assert df.columns == ["n_nationkey", "n_comment"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_cache_stays_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMA_CAP", 3)
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    for i in range(5):
        d = tmp_path / f"t{i}"
        d.mkdir()
        _write_nation(d, {"n_nationkey": [i]})
        catalog.load_table(spark, "nation", str(d))
        assert len(catalog._SCHEMAS) <= 3
    # the newest file is still served from the cache
    assert catalog._file_key(str(d / "nation.parquet")) in catalog._SCHEMAS
