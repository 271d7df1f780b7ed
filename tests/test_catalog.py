"""Scan-definition cache of the table catalog: a cached scan or spread
decision is reused only while everything that decided it is unchanged."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

from big_data_project_spark.catalog import (
    load_table,
    load_table_spread,
    table_path,
)
from big_data_project_spark.session import scoped_conf

from tests.conftest import SF_DIR

_CONF = "spark.sql.files.maxPartitionBytes"


def _copy_documents(tmp_path) -> str:
    d = str(tmp_path / "sf")
    os.makedirs(d)
    shutil.copy(table_path(SF_DIR, "documents"), table_path(d, "documents"))
    return d


def test_spread_unchanged_call_hits_cache(spark, tmp_path):
    d = _copy_documents(tmp_path)
    first = load_table_spread(spark, d, "documents", "doc_id")
    assert load_table_spread(spark, d, "documents", "doc_id") is first
    assert load_table(spark, d, "documents") is load_table(spark, d, "documents")


def test_spread_decision_follows_max_partition_bytes(spark, tmp_path):
    """A small file repartitions; the same file with a max split size
    of one byte already has a split per core and is scanned as is."""
    d = _copy_documents(tmp_path)
    base = load_table(spark, d, "documents")
    assert load_table_spread(spark, d, "documents", "doc_id") is not base
    with scoped_conf(spark, _CONF, "1"):
        spread = load_table_spread(spark, d, "documents", "doc_id")
    assert spread is base


def test_spread_decision_follows_rewritten_parquet(spark, tmp_path):
    """Rewriting the table with half its rows under a split size that
    gave the original file one split per core flips the decision, and
    the new scan reads the new rows."""
    d = _copy_documents(tmp_path)
    path = table_path(d, "documents")
    target = spark.sparkContext.defaultParallelism
    max_bytes = str(os.path.getsize(path) // target)

    def spread():
        with scoped_conf(spark, _CONF, max_bytes):
            return load_table_spread(spark, d, "documents", "doc_id")

    before = spread()
    assert before is load_table(spark, d, "documents")

    full = pq.read_table(path)
    half = full.slice(0, full.num_rows // 2)
    pq.write_table(half, path)
    after = spread()
    assert after is not load_table(spark, d, "documents")
    assert after.count() == half.num_rows
