"""SnapshotStore: versioned commits, rollback, kill-safety contract."""

from __future__ import annotations

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
        segments = store._read_manifest(t)["versions"][-1]["segments"]
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
