from __future__ import annotations

import os

import pytest

from pyspark.sql import SparkSession

from platform_etl_backend_spark.engine.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("petl-tests", master="local[4]",
                      extra_conf={"spark.sql.shuffle.partitions": "4",
                                  "spark.sql.warehouse.dir": "/tmp/petl-warehouse"})
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(autouse=True, scope="module")
def _release_cached_frames():
    """Frames a test module persisted and never unpersisted stay cached in
    the driver heap for the rest of the session, and enough of them starve
    later broadcasts of memory; drop them when the module ends."""
    yield
    active = SparkSession.getActiveSession()
    if active is not None:
        active.catalog.clearCache()


@pytest.fixture(scope="session")
def catalog_sweep(spark, sf_dir):
    """Every catalog query built and planned ONCE per session, shared by the
    plan guards and the output-contract tests (building ~350 plans costs
    minutes). Values are ``(simple plan string, schema)``, or the exception
    when building or planning the query failed."""
    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.plans import explain_str

    built = {}
    for name, spec in QUERIES.items():
        try:
            df = spec.fn(spark, sf_dir)
            built[name] = (explain_str(df, "simple"), df.schema)
        except Exception as e:
            built[name] = e
    return built


def load(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
