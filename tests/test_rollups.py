"""Shared rollup memo: a persisted rollup is reused only while the
catalog tables under its sf_dir are unchanged."""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow.parquet as pq

from big_data_project_spark import rollups
from big_data_project_spark.catalog import table_path
from big_data_project_spark.operators.kpi import kpi_hourly
from big_data_project_spark.registry import ORACLES

from tests.conftest import SF_DIR
from tests.test_oracle_parity import _normalize


def _matches_oracle(df, events_path: str) -> bool:
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_path}'")
        res = con.execute(ORACLES["kpi_hourly"])
        want = _normalize(res.fetchall(), [d[0].lower() for d in res.description])
    finally:
        con.close()
    cols = [c.lower() for c in df.columns]
    return _normalize([tuple(r) for r in df.collect()], cols) == want


def test_kpi_hourly_follows_rewritten_events(spark, tmp_path):
    d = str(tmp_path / "sf")
    os.makedirs(d)
    path = table_path(d, "events")
    shutil.copy(table_path(SF_DIR, "events"), path)

    first = kpi_hourly(spark, d)
    assert kpi_hourly(spark, d) is first
    assert _matches_oracle(first, path)
    entries = len(rollups._CACHE)

    full = pq.read_table(path)
    pq.write_table(full.slice(0, full.num_rows // 2), path)
    after = kpi_hourly(spark, d)
    assert after is not first
    assert _matches_oracle(after, path)
    assert kpi_hourly(spark, d) is after
    # the superseded tier is released and replaced, not accumulated
    assert len(rollups._CACHE) == entries
    assert not first.is_cached
