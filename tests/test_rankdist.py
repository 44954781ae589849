"""distributed_rank must equal the single-window global row_number —
including tie runs (the Zipf cnt=1 tail shape) — while never planning
an unpartitioned window."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from crawler_spark.operators.rankdist import distributed_rank


@pytest.mark.spark
def test_matches_global_window(spark):
    # heavy tie skew: 60% of rows share cnt=1 (the Zipf tail), a few
    # head values repeat, tie-break on the word column
    df = spark.range(0, 2000).select(
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("w"),
        F.when(F.col("id") % 10 < 6, F.lit(1))
        .otherwise((F.col("id") % 7 + 2).cast("long"))
        .alias("cnt"),
    )
    order = [F.desc("cnt"), F.col("w")]
    expected = {
        r["w"]: r["r"]
        for r in df.withColumn(
            "r", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    got = {r["w"]: r["r"] for r in distributed_rank(df, order, "r").collect()}
    assert got == expected


@pytest.mark.spark
def test_no_unpartitioned_window_in_plan(spark):
    # shares the detector with the registry-wide lock so a plan-string
    # format change (e.g. a Spark upgrade) only has one parser to fix
    from tests.test_plan_quality import _unpartitioned_windows

    df = spark.range(0, 100).select(
        F.col("id").alias("w"), (F.col("id") % 5).alias("cnt")
    )
    ranked = distributed_rank(df, [F.desc("cnt"), F.col("w")], "r")
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    wins = _unpartitioned_windows(plan.splitlines())
    assert not wins, f"unpartitioned window leaked into plan: {wins}"


@pytest.mark.spark
def test_empty_input(spark):
    df = spark.range(0).select(F.col("id").alias("w"), F.lit(1).alias("cnt"))
    out = distributed_rank(df, [F.desc("cnt"), F.col("w")], "r")
    assert out.count() == 0
    assert set(out.columns) == {"w", "cnt", "r"}


def test_shuffle_partitions_falls_back_when_not_an_integer():
    """A non-integer spark.sql.shuffle.partitions (e.g. a platform's
    'auto') falls back to defaultParallelism instead of raising."""
    from types import SimpleNamespace

    from crawler_spark.operators.rankdist import shuffle_partitions

    def session(value):
        return SimpleNamespace(
            conf=SimpleNamespace(get=lambda key: value),
            sparkContext=SimpleNamespace(defaultParallelism=3),
        )

    assert shuffle_partitions(session("auto")) == 3
    assert shuffle_partitions(session("12")) == 12
