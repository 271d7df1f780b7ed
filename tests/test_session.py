"""Session sizing: one shuffle and state-store partition per local core
unless $SPARK_GRAFT_SHUFFLE overrides it, and a codegen class cache that
holds a DAG pass's working set; scoped session conf."""

from __future__ import annotations

import os

import pytest

from big_data_project_spark.catalog import load_table
from big_data_project_spark.operators.corpus import nmf_topic_rounds
from big_data_project_spark.session import get_spark, scoped_conf
from big_data_project_spark.streaming import pipeline

from tests.conftest import SF_DIR, codegen_compiles

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


def test_codegen_cache_size_is_pinned(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_codegen_cache_holds_more_classes_than_the_default_lru(spark):
    """150 distinct whole-stage classes (integer literals are inlined
    into the generated source) run twice: the second round compiles
    nothing. A 100-entry LRU evicts each class before its next use."""
    plans = [spark.range(8).selectExpr(f"id * {i} + {i}") for i in range(150)]
    for df in plans:
        df.collect()
    before = codegen_compiles(spark)
    for df in plans:
        df.collect()
    assert codegen_compiles(spark) == before


def test_scoped_conf_restores_prior_or_unsets(spark):
    key = "spark.sql.sources.partitionOverwriteMode"
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, key, "dynamic"):
            assert spark.conf.get(key) == "dynamic"
            raise RuntimeError("boom")
    assert spark.conf.get(key, None) is None
    with scoped_conf(spark, "spark.sql.adaptive.enabled", "false"):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_nmf_restores_aqe_when_construction_raises(spark, monkeypatch):
    """NMF disables AQE while its checkpoints execute; a failure partway
    through construction must leave the session conf as it found it."""
    seen = []

    def boom(self, eager=True):
        seen.append(spark.conf.get("spark.sql.adaptive.enabled"))
        raise RuntimeError("checkpoint failed")

    monkeypatch.setattr(type(spark.range(1)), "localCheckpoint", boom)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        nmf_topic_rounds(spark, SF_DIR)
    assert seen == ["false"]
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
