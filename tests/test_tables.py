"""SnapshotStore: versioned commits, rollback, kill-safety contract."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from crawler_spark.sources.tables import SnapshotStore


@pytest.mark.spark
def test_write_read_rollback(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "wh"))
    df1 = spark.range(10).withColumnRenamed("id", "x")
    df2 = spark.range(20).withColumnRenamed("id", "x")
    v1 = store.write("t", df1, meta={"round": 1})
    v2 = store.write("t", df2, meta={"round": 2})
    assert (v1, v2) == (1, 2)
    assert store.read(spark, "t").count() == 20
    assert store.meta("t")["round"] == 2
    store.rollback("t", v1)
    assert store.read(spark, "t").count() == 10
    # a new write after rollback becomes v3, current
    v3 = store.write("t", df2, meta={"round": 2, "retry": True})
    assert v3 == 3
    assert store.read(spark, "t").count() == 20
    assert store.read(spark, "t", version=1).count() == 10


@pytest.mark.spark
def test_missing_table(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "wh"))
    assert not store.exists("nope")
    with pytest.raises(FileNotFoundError):
        store.read(spark, "nope")


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup())


@pytest.mark.spark
def test_read_reuses_written_schema_without_a_job(spark, tmp_path):
    """The writing store reads with the schema it remembered (no
    inference job); the schema is the one Spark infers from the files."""
    store = SnapshotStore(str(tmp_path / "wh"))
    df = spark.range(5).selectExpr("cast(id as int) as x", "array(id) as a")
    store.write("t", df)
    store.write("t", df, append=True)
    store.write_local("m", [(1, "a", 2.0)], "round int, name string, s double")
    for t in ("t", "m"):
        path = store.versions(t)[-1].path
        before = _jobs(spark)
        got = store.read(spark, t)
        assert _jobs(spark) == before, f"{t}: read ran a job"
        segments = store.versions(t)[-1].segments
        assert got.schema == spark.read.parquet(*segments).schema
        assert store.read_delta(spark, t, store.current_version(t)).schema == (
            spark.read.parquet(path).schema
        )
    assert store.read(spark, "t").count() == 10


@pytest.mark.spark
def test_drop_then_rewrite_reads_new_schema(spark, tmp_path):
    """Version paths restart after a drop: the rewrite's schema wins."""
    store = SnapshotStore(str(tmp_path / "wh"))
    store.write("t", spark.range(3).withColumnRenamed("id", "x"))
    store.drop("t")
    store.write("t", spark.range(3).selectExpr("cast(id as string) as y", "id as z"))
    got = store.read(spark, "t")
    assert got.schema.fieldNames() == ["y", "z"]
    assert sorted(r["y"] for r in got.collect()) == ["0", "1", "2"]


@pytest.mark.spark
def test_second_store_on_same_root(spark, tmp_path):
    """A store that did not write a version infers its schema; a store
    whose remembered directory another store dropped and rewrote reads
    the new files, not its stale schema."""
    root = str(tmp_path / "wh")
    first = SnapshotStore(root)
    first.write("t", spark.range(4).withColumnRenamed("id", "x"), meta={"round": 1})
    second = SnapshotStore(root)
    assert second.read(spark, "t").schema == first.read(spark, "t").schema
    assert second.read(spark, "t").count() == 4
    second.write("t", spark.range(6).withColumnRenamed("id", "x"))
    assert first.read(spark, "t").count() == 6
    second.drop("t")
    second.write("t", spark.range(2).selectExpr("cast(id as double) as w"))
    got = first.read(spark, "t")
    assert got.schema.fieldNames() == ["w"]
    assert sorted(r["w"] for r in got.collect()) == [0.0, 1.0]


@pytest.mark.spark
def test_store_moves_to_a_new_root(spark, tmp_path):
    """Manifests name version dirs relative to the table dir: a store
    copied to a new root (the old one deleted) reads back the same rows
    and resumes there; a manifest with the absolute entries older stores
    wrote still reads."""
    old_root, new_root = str(tmp_path / "a"), str(tmp_path / "moved" / "b")
    store = SnapshotStore(old_root)
    store.write("t", spark.range(5).withColumnRenamed("id", "x"), meta={"round": 1})
    store.write("t", spark.range(5, 8).withColumnRenamed("id", "x"), append=True)
    store.commit_state({"round": 1, "tables": {"t": store.current_version("t")}})
    store.write("t", spark.range(100).withColumnRenamed("id", "x"))  # uncommitted
    with open(store._manifest_path("t")) as f:
        assert old_root not in f.read()
    shutil.copytree(old_root, new_root)
    shutil.rmtree(old_root)

    moved = SnapshotStore(new_root)
    assert moved.restore_state()["round"] == 1
    assert sorted(r["x"] for r in moved.read(spark, "t").collect()) == list(range(8))
    moved.write("t", spark.range(8, 10).withColumnRenamed("id", "x"), append=True)
    assert sorted(r["x"] for r in moved.read(spark, "t").collect()) == list(range(10))
    assert all(p.startswith(new_root) for p in moved.versions("t")[-1].segments)

    # an old-style manifest: absolute path and segments
    tdir = moved._tdir("t")
    with open(moved._manifest_path("t")) as f:
        m = json.load(f)
    for e in m["versions"]:
        e["path"] = os.path.join(tdir, e["path"])
        e["segments"] = [os.path.join(tdir, p) for p in e["segments"]]
    moved._commit_manifest("t", m)
    again = SnapshotStore(new_root)
    assert sorted(r["x"] for r in again.read(spark, "t").collect()) == list(range(10))
    assert again.read(spark, "t", version=1).count() == 5
