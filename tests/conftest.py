from __future__ import annotations

import duckdb
import pytest

from big_data_project_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark
    from big_data_project_spark.caching import release_caches

    release_caches()
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with every test table registered as a view —
    mirrors the driver's oracle setup."""
    con = duckdb.connect()
    from big_data_project_spark.catalog import TABLES, table_path

    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{table_path(SF_DIR, name)}'"
        )
    yield con
    con.close()


def codegen_compiles(spark) -> int:
    """Janino compiles so far in this JVM (the count of Spark's
    CodegenMetrics compilation-time histogram)."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metric.METRIC_COMPILATION_TIME().getCount())
