"""Two-pass distributed global ranking — the scale-safe replacement for
``Window.orderBy(...)`` with no ``partitionBy`` (the "W2 class": Spark
executes an unpartitioned window by sorting the ENTIRE input in ONE
partition, which is a non-starter at cluster scale).

The textbook two-pass scheme (Goetz Graefe's distributed rank; the same
shape Hive/Impala use for cluster-wide NTILE):

1. **Range-partition** the frame on the order columns
   (``repartitionByRange`` — Spark samples boundaries so every partition
   holds a contiguous, balanced key range) and stamp each row with its
   physical partition id.  The frame is persisted: pass 2 re-reads it, and
   the partition-id → offset mapping below is only valid for the exact
   partitioning the statistics were computed from (a re-sampled range
   exchange could place boundaries differently).
2. **Per-partition statistics** (row counts / column sums) — a tiny frame
   with one row per partition.  An exclusive prefix over THIS frame is a
   single-partition window, but it is bounded by the PARTITION COUNT (a
   cluster-config constant, thousands at most), never by the data.
3. **Broadcast the offsets** back and combine with a partition-LOCAL
   window (``Window.partitionBy(pid).orderBy(...)``): global position =
   partition offset + local position.

Every shuffle moves each row at most twice (range exchange + the window's
hash-by-pid exchange) and no task ever sorts more than one range
partition.  Callers must supply a TOTAL order (unique tie-break columns —
the registry-wide determinism rule) or value-distinct rows: range
boundaries fall between distinct keys, so a single hot key would land in
one partition; with unique/pre-aggregated keys the ranges stay balanced.

Reference parity note: the reference's only global-rank site
(``Search.scala:600-606``) is a driver-scalar multiplier, mirrored
elsewhere; these helpers exist for the eval-harness queries (ROC-AUC,
calibration deciles, equi-depth histograms, CDF integrals) whose frames
grow with the corpus.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PID = "__tp_pid"


def _num_partitions(df: DataFrame, num_partitions: int | None) -> int:
    if num_partitions is not None:
        return num_partitions
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


def ranged_with_pid(
    df: DataFrame, order_cols: Sequence[str], num_partitions: int | None = None
) -> DataFrame:
    """Range-partition ``df`` on ``order_cols`` and stamp the partition id.

    The result is **persisted** — both passes (statistics + final combine)
    must observe the SAME physical partitioning, and ``repartitionByRange``
    samples boundaries per execution.  Callers unpersist via
    :func:`F.DataFrame.unpersist` when done (catalog queries leave it to
    context teardown, the repo-wide convention).
    """
    n = _num_partitions(df, num_partitions)
    ranged = df.repartitionByRange(n, *[F.col(c) for c in order_cols])
    return ranged.withColumn(PID, F.spark_partition_id()).persist()


def _offsets(
    d: DataFrame, sums: dict[str, Column]
) -> DataFrame:
    """Per-pid exclusive prefix totals (+ grand totals on every row).

    ``sums`` maps output-column name → aggregate over ``d``'s columns.
    The frame has ≤ num_partitions rows; the prefix window over it is
    single-partition but bounded by the partition count, not the data.
    """
    per = d.groupBy(PID).agg(
        *[v.alias(f"__t_{k}") for k, v in sums.items()]
    )
    w_excl = Window.orderBy(PID).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cols = [F.col(PID)]
    for k in sums:
        t = F.col(f"__t_{k}")
        cols.append(
            F.coalesce(F.sum(t).over(w_excl), F.lit(0)).cast("bigint").alias(f"__off_{k}")
        )
        cols.append(F.sum(t).over(w_all).cast("bigint").alias(f"__tot_{k}"))
    return per.select(*cols)


def two_pass_row_number(
    df: DataFrame,
    order_cols: Sequence[str],
    rn_col: str = "rn",
    num_partitions: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """Global 1-based ROW_NUMBER over a total order, no O(n) single sort.

    ``order_cols`` must be a unique tie-broken order (registry rule).  If
    ``total_col`` is given, the grand total row count rides along on every
    row (free — it is already on the broadcast offsets frame).

    The internal range-partitioned frame is PERSISTED (both passes must
    observe one sampled partitioning) and released at context teardown.
    """
    d = ranged_with_pid(df, order_cols, num_partitions)
    off = _offsets(d, {"n": F.count(F.lit(1))})
    w_local = Window.partitionBy(PID).orderBy(*order_cols)
    out = d.join(F.broadcast(off), PID).withColumn(
        rn_col,
        (F.col("__off_n") + F.row_number().over(w_local)).cast("bigint"),
    )
    keep = list(df.columns) + [rn_col]
    if total_col is not None:
        out = out.withColumn(total_col, F.col("__tot_n"))
        keep.append(total_col)
    return out.select(*keep)


def two_pass_ntile(
    df: DataFrame,
    order_cols: Sequence[str],
    n_buckets: int,
    bucket_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed NTILE(b) — SQL-standard remainder rule, two-pass rank.

    With n rows and b buckets, q = n div b and r = n mod b: buckets 1..r
    hold q+1 rows, buckets r+1..b hold q (earlier buckets get the
    remainder — the exact rule both Spark's and DuckDB's NTILE follow),
    derived arithmetically from the global row number:

        rn ≤ r·(q+1)  →  (rn−1) div (q+1) + 1
        otherwise     →  r + (rn − r·(q+1) − 1) div q + 1

    When n < b the else-branch is unreachable (r = n, every row is in the
    first branch), so the q = 0 division never evaluates its branch value
    into the result.
    """
    rn = two_pass_row_number(
        df, order_cols, rn_col="__tp_rn", num_partitions=num_partitions,
        total_col="__tp_n",
    )
    out = rn.withColumn("__q", F.expr(f"__tp_n div {n_buckets}")).withColumn(
        "__r", F.col("__tp_n") % n_buckets
    )
    first_span = F.col("__r") * (F.col("__q") + 1)
    bucket = F.when(
        F.col("__tp_rn") <= first_span,
        F.expr("(__tp_rn - 1) div (__q + 1) + 1"),
    ).otherwise(
        F.col("__r")
        + F.expr("(__tp_rn - __r * (__q + 1) - 1) div __q")
        + 1
    )
    return out.withColumn(bucket_col, bucket.cast("int")).select(
        *list(df.columns), bucket_col
    )


def two_pass_cumsum(
    df: DataFrame,
    order_cols: Sequence[str],
    sum_cols: Sequence[str],
    num_partitions: int | None = None,
    total_prefix: str | None = None,
) -> DataFrame:
    """Global inclusive running SUMs over a total order, two-pass.

    For each c in ``sum_cols`` adds ``cum_{c}`` = SUM(c) OVER
    (ORDER BY order_cols ROWS UNBOUNDED PRECEDING..CURRENT).  With
    ``total_prefix`` also adds ``{total_prefix}{c}`` = the grand total
    (replaces a second O(n) single-partition ``SUM OVER ()`` window).
    """
    d = ranged_with_pid(df, order_cols, num_partitions)
    off = _offsets(d, {c: F.sum(F.col(c)) for c in sum_cols})
    w_local = (
        Window.partitionBy(PID)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = d.join(F.broadcast(off), PID)
    keep = list(df.columns)
    for c in sum_cols:
        out = out.withColumn(
            f"cum_{c}",
            (F.col(f"__off_{c}") + F.sum(F.col(c)).over(w_local)).cast("bigint"),
        )
        keep.append(f"cum_{c}")
        if total_prefix is not None:
            out = out.withColumn(f"{total_prefix}{c}", F.col(f"__tot_{c}"))
            keep.append(f"{total_prefix}{c}")
    return out.select(*keep)


def two_pass_cdf(
    df: DataFrame,
    order_cols: Sequence[str],
    sum_cols: Sequence[str],
    value_col: str,
    lead_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Cumulative sums + LEAD of the support value in ONE ranged pass —
    the empirical-CDF shape (Wasserstein integrals, survival curves).

    The per-partition statistics (offset sums AND each partition's first
    support value) come from ONE fused groupBy(pid) over the persisted
    ranged frame — one scan + one broadcast join instead of two of each
    (round-7 VERDICT #3: the fixed two-pass orchestration cost is what
    regressed the rewired queries at bench scale; fusing halves it here).
    """
    d = ranged_with_pid(df, order_cols, num_partitions)
    s_cols = list(dict.fromkeys([*order_cols, value_col]))
    per = d.groupBy(PID).agg(
        *[F.sum(F.col(c)).alias(f"__t_{c}") for c in sum_cols],
        F.min(F.struct(*s_cols)).alias("__s"),
    )
    w_excl = Window.orderBy(PID).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    side_cols = [F.col(PID)]
    for c in sum_cols:
        t = F.col(f"__t_{c}")
        side_cols.append(
            F.coalesce(F.sum(t).over(w_excl), F.lit(0))
            .cast("bigint").alias(f"__off_{c}")
        )
        side_cols.append(F.sum(t).over(w_all).cast("bigint").alias(f"__tot_{c}"))
    side_cols.append(
        F.lead(F.col(f"__s.{value_col}")).over(Window.orderBy(PID)).alias(
            "__next_first"
        )
    )
    side = per.select(*side_cols)
    w_local = (
        Window.partitionBy(PID)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_row = Window.partitionBy(PID).orderBy(*order_cols)
    out = d.join(F.broadcast(side), PID)
    keep = list(df.columns)
    for c in sum_cols:
        out = out.withColumn(
            f"cum_{c}",
            (F.col(f"__off_{c}") + F.sum(F.col(c)).over(w_local)).cast("bigint"),
        ).withColumn(f"tot_{c}", F.col(f"__tot_{c}"))
        keep += [f"cum_{c}", f"tot_{c}"]
    out = out.withColumn(
        lead_col,
        F.coalesce(F.lead(value_col).over(w_row), F.col("__next_first")),
    )
    keep.append(lead_col)
    return out.select(*keep)
