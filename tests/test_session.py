"""Session sizing: one shuffle and state-store partition per local core
unless $SPARK_GRAFT_SHUFFLE overrides it."""

from __future__ import annotations

import os

from big_data_project_spark.catalog import load_table
from big_data_project_spark.session import get_spark
from big_data_project_spark.streaming import pipeline

from tests.conftest import SF_DIR

_SHUFFLE = "spark.sql.shuffle.partitions"


def _expected_partitions(spark) -> str:
    return os.environ.get(
        "SPARK_GRAFT_SHUFFLE", str(spark.sparkContext.defaultParallelism)
    )


def test_master_runs_on_resolved_cores(spark):
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    want = len(os.sched_getaffinity(0)) if cpus == "*" else int(cpus)
    assert spark.sparkContext.defaultParallelism == want


def test_shuffle_partitions_default_to_parallelism(spark):
    assert spark.conf.get(_SHUFFLE) == _expected_partitions(spark)


def test_shuffle_override_wins(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "7")
    try:
        assert get_spark("tests") is spark
        assert spark.conf.get(_SHUFFLE) == "7"
    finally:
        monkeypatch.undo()
        get_spark("tests")
    assert spark.conf.get(_SHUFFLE) == _expected_partitions(spark)


def test_stream_state_partitions_follow_session(spark, tmp_path):
    src = str(tmp_path / "events")
    load_table(spark, SF_DIR, "events").limit(200).write.parquet(src)
    q = (
        pipeline.stream_events_hourly(spark, src)
        .writeStream.format("memory")
        .queryName("state_partitions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ops = [p["stateOperators"][0] for p in q.recentProgress if p["stateOperators"]]
    assert ops
    want = int(_expected_partitions(spark))
    assert {op["numShufflePartitions"] for op in ops} == {want}
