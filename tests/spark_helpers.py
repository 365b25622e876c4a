"""Test-side Spark helpers: physical-plan assertions and a scoped runtime
conf override.

The plan assertions fail a test when a plan regression (lost pushdown, lost
broadcast, accidental cartesian, codegen break) sneaks in — the failure
modes that small-data correctness tests cannot see.
"""

from __future__ import annotations

import contextlib
import re
from typing import Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession

from platform_etl_backend_spark.plans.inspect import explain_str


@contextlib.contextmanager
def session_scoped_conf(spark: SparkSession, conf: Mapping[str, str]) -> Iterator[SparkSession]:
    """Temporarily override runtime SQL conf, restoring on exit.

    PySpark-native equivalent of the reference's per-step session rebuild
    (``Literature.scala:18-31`` sets ``spark.sql.mapKeyDedupPolicy=LAST_WIN``
    for one step only): runtime-settable confs are scoped, not baked into a
    new session.
    """
    saved: dict[str, str | None] = {}
    for k, v in conf.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def shuffle_count(df: DataFrame) -> int:
    """Number of exchanges in the physical plan (lower bound on shuffles)."""
    return len(re.findall(r"Exchange (?:hash|range|SinglePartition)",
                          explain_str(df, "simple")))


def assert_broadcast_join(df: DataFrame, at_least: int = 1) -> None:
    plan = explain_str(df, "simple")
    n = plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")
    assert n >= at_least, f"expected >= {at_least} broadcast joins, saw {n}:\n{plan}"


def assert_no_cartesian(df: DataFrame) -> None:
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan, f"unexpected cartesian product:\n{plan}"


def assert_pushed_filters(df: DataFrame, fragment: str) -> None:
    """Assert a predicate reached the scan (PushedFilters: [...])."""
    plan = explain_str(df, "formatted")
    pushed = "\n".join(l for l in plan.splitlines() if "PushedFilters" in l)
    assert fragment in pushed, (
        f"filter '{fragment}' not pushed to scan; PushedFilters lines:\n{pushed}\n"
        f"full plan:\n{plan[:4000]}"
    )


def assert_wholestage_codegen(df: DataFrame) -> None:
    """Assert at least one generated WholeStageCodegen subtree (AQE-safe:
    the simple plan hides codegen stars while isFinalPlan=false, so use
    codegen mode)."""
    plan = explain_str(df, "codegen")
    n = len(re.findall(r"WholeStageCodegen subtree", plan))
    assert n >= 1, f"expected a codegen stage, saw none:\n{plan[:3000]}"
