"""SparkSession factory tuned for this engine.

Local mode is a single JVM; the same config flags (AQE, shuffle
partitions, Arrow) are the ones that matter on a 1000-executor cluster —
AQE handles runtime coalescing and skew joins, UTC keeps timestamp
semantics identical to the oracle engine.

Sizing rule: the core count is resolved once (``$SPARK_GRAFT_CPUS``, or
the process CPU affinity when unset or ``*``) and sets both the
``local[N]`` master and the default ``spark.sql.shuffle.partitions``;
``$SPARK_GRAFT_SHUFFLE`` overrides the latter. That one value bounds
every planned exchange, fixes the partition count of each persisted
rollup and ``persisted()`` relation (AQE may not re-partition a cached
plan, so every consumer scans it with that many tasks), and fixes the
streaming state-store partition count at query start. One partition
per core is scale-safe because this factory only ever builds
``local[N]`` sessions: a cluster session is built elsewhere with its
own conf, and a bigger local host gets proportionally more partitions.

The codegen cache (``spark.sql.codegen.cache.maxEntries``) holds the
Janino-compiled classes, tens of KB each, keyed by generated source. An
hourly DAG pass uses about 234 distinct classes, so at 1000 entries a
steady pass reuses the last pass's classes and their JIT-compiled code.
The cost is bounded metaspace per JVM: the ``local[N]`` driver here, or
each executor JVM of a cluster, which keeps its own cache.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set a session conf for the body of a ``with`` block, restoring
    the prior value (or unsetting the key if it was unset) on any exit:
    the session is shared, so a sticky value would change unrelated
    queries."""
    prior = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def get_spark(app_name: str = "big_data_project_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if cpus == "*":
        cpus = str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # local-mode driver hosts all executor threads; the 1g default
        # heap GC-thrashes under 32 concurrent tasks (takes effect only
        # when this process starts the JVM, which is the normal path)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "8g"))
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE", cpus),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Join-strategy knobs (guide §3.1/§9), env-parameterised.
        # PREFER_SMJ=false lets the planner pick shuffled-hash joins
        # (no sort) when its size conditions hold, and the AQE
        # threshold converts sort-merge to shuffled-hash at runtime
        # when every post-shuffle partition is under the limit —
        # measured −20-25% on the SMJ-heavy corpus-factor joins
        # (nmf_topic_rounds, semdedup_prune; OPTIMIZATION_r09.md).
        # Safe beyond local mode: both paths are size-guarded (the
        # planner's build-side condition / the 64m per-partition AQE
        # bound), so a build side that could OOM falls back to SMJ;
        # set SPARK_GRAFT_PREFER_SMJ=true to restore the old planner.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_AQE_SHJ_THRESHOLD", "64m"),
        )
        # Shuffle/spill codec (guide §2.3): default lz4; zstd trades
        # CPU for markedly better ratio — measured per-host
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        # ~234 distinct generated classes per DAG pass: a cyclic walk
        # through a smaller LRU (default 100) evicts each class before
        # its next use, a hit rate of zero
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
