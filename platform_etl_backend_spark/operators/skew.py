"""Skew-mitigation operators.

AQE's skew-join splitting handles most cases at runtime
(``spark.sql.adaptive.skewJoin.enabled``, on by default in this engine);
``salted_aggregate`` is the explicit fallback for the pattern AQE cannot
fix, a skewed GROUP key: phase 1 aggregates on (key, salt) spreading each
hot key over N reducers, phase 2 merges the partials. Semantics-preserving
for any algebraic aggregate (sum/count/min/max), so it is oracle-checkable
against the plain groupBy (q_salted_agg).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, buckets: int) -> DataFrame:
    """Deterministic salt derived from a stable row hash (not rand(), so
    retries/replays and oracle comparisons stay stable)."""
    all_cols = F.concat_ws("\x01", *[F.col(c).cast("string") for c in df.columns])
    return df.withColumn("_salt", F.pmod(F.hash(all_cols), F.lit(buckets)))


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[Column, Column]],
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output name → (phase1 aggregate over rows,
    phase2 aggregate over phase-1 partials), e.g.::

        {"cnt": (F.count(F.lit(1)), F.sum("cnt")),
         "total": (F.sum(dec2("x")), F.sum("total"))}
    """
    salted = with_salt(df, 16)
    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[a1.alias(name) for name, (a1, _) in aggs.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[a2.alias(name) for name, (_, a2) in aggs.items()]
    )

