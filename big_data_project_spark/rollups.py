"""Shared materialized (route, hour) rollup tier for the composite family.

The reference materializes its KPI layer once per pipeline run as views
(/root/reference/src/optimization/kpi_views.sql) and every export reads
those views. Round 1 re-derived each rollup from the raw events feed in
every composite query — ``needs_data`` alone re-scanned the fact table
~4x (20 shuffles). This module is the Spark analog of that view tier:
each base rollup and the joined kpi frame is computed ONCE per
(application, sf_dir), persisted MEMORY_AND_DISK, and every downstream
query (kpi_hourly -> suggestions -> latest/top/summary/needs_data ->
peak_hours_summary) reads the materialized frame.

Scale: the cached relations are (route, hour)-grained — many orders of
magnitude smaller than the 100 TB feed — so the persistence cost is
trivial while saving whole passes over the fact table per query. On a
real cluster this tier would be a Delta/parquet materialization updated
incrementally; in-process persist() keeps the same dataflow shape.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from .catalog import TABLES, _file_stats, table_path

# (application, sf_dir, name) -> (table file stats, persisted frame)
_CACHE: dict[tuple[str, str, str], tuple[tuple, DataFrame]] = {}


def shared_rollup(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[SparkSession, str], DataFrame],
) -> DataFrame:
    """Memoized, persisted rollup keyed by (application, sf_dir, name)
    and the (size, mtime) file stats of the catalog tables under sf_dir.

    The key includes ``applicationId`` so a restarted SparkContext never
    serves DataFrames bound to a dead JVM context; the file stats make a
    table rewritten in place (a new hour landing in a long-lived
    session) rebuild the rollup, unpersisting the superseded frame.
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    paths = [table_path(sf_dir, t) for t in TABLES]
    stats = tuple(_file_stats(p) if os.path.exists(p) else None for p in paths)
    hit = _CACHE.get(key)
    if hit is not None and hit[0] == stats:
        return hit[1]
    if hit is not None:
        hit[1].unpersist()
    df = build(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    _CACHE[key] = (stats, df)
    return df


def clear_rollup_cache() -> int:
    """Unpersist and drop every cached rollup (test isolation hook).
    Returns the number of entries dropped so release_caches() can count
    the memo tier alongside its tracked handles."""
    n = len(_CACHE)
    for _, df in _CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass  # context already stopped; nothing to release
    _CACHE.clear()
    return n
