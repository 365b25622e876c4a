"""SparkSession factory with scale-oriented defaults.

Reference parity: ``spark/Helpers.scala:72-102`` (getOrCreateSparkSession
builds a SparkConf from config key/value pairs) and
``literature/Literature.scala:18-31`` (per-step session conf overrides).

Design-for-100TB notes
----------------------
- AQE is on by default (the reference predates the AQE culture; SURVEY §4
  calls out enabling it): runtime coalescing of shuffle partitions, skew-join
  splitting, and SMJ→BHJ conversion are all free wins at cluster scale.
- ``spark.sql.shuffle.partitions`` defaults low for local testing but is a
  plain conf knob — on a 1000-executor cluster set it (or rely on AQE
  ``advisoryPartitionSizeInBytes``) so post-shuffle partitions land in the
  128-256MB sweet spot.
- Arrow is enabled for the few pandas_udf paths (Monte-Carlo, multimodal).
- Session timezone pinned to UTC so timestamp semantics don't depend on the
  machine the driver runs on.
- The driver JVM runs on the C1 JIT only (``-XX:TieredStopAtLevel=1``). A
  ``run`` or ``query`` process lives for seconds to minutes, and C2's
  compiler threads spend more CPU optimising Spark's own code than the
  optimised code gives back in that time (SCALE.md "Session defaults" has
  the measured trade-off). The flag goes in
  ``spark.driver.defaultJavaOptions``, which Spark's launcher puts before
  ``spark.driver.extraJavaOptions``, so a caller's own extra options keep
  it. It takes effect only when PySpark launches the driver JVM (a session
  attached to a running JVM keeps that JVM's flags), and executors, which
  are separate JVMs on a cluster, keep C2.
"""

from __future__ import annotations

import os
from typing import Mapping

from pyspark.sql import SparkSession

# Reference session conf (reference.conf:16-20) carried over, plus
# scale-oriented additions.
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.broadcastTimeout": "3000",
    "spark.driver.maxResultSize": "0",
    "spark.sql.debug.maxToStringFields": "2000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # Read ntz parquet timestamps as TIMESTAMP_NTZ so values are not
    # reinterpreted through the session zone (testdata is written ntz).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # Split small single-file inputs down to row-group granularity so local
    # CPU-heavy stages parallelize; on a real cluster inputs are many files
    # and this floor is a no-op.
    "spark.sql.files.minPartitionNum": "32",
    "spark.ui.enabled": "false",
    "spark.driver.defaultJavaOptions": "-XX:TieredStopAtLevel=1",
}


def get_spark(
    app_name: str = "platform-etl-backend-spark",
    master: str | None = None,
    extra_conf: Mapping[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    ``master`` falls back to ``local[$SPARK_GRAFT_CPUS]`` for local runs; on
    a real cluster leave it None and let spark-submit supply it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
