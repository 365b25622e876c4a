"""Ordered-sequence analytics operators: cohort retention, funnel stage
matching, SCD2 (slowly-changing-dimension) interval construction, and
bounded-window EWMA smoothing.

Engine extensions beyond the reference's inventory (its closest shapes are
the ordered-window families, e.g. Processing.scala's dense-rank keep-best):
these are the product-analytics / feature-pipeline operators a 100 TB event
store needs. All are pure Catalyst — one key shuffle each, sequence logic via
higher-order functions on ordered arrays, no Python rows.

Scale notes (100 TB):
- ``funnel_stages`` collects each user's events into one ordered array before
  the fold. Per-user event counts bound the array; for unbounded histories,
  pre-filter to the funnel's event types (done here — the fold only needs
  candidate events) and/or a bounded time range. The alternative (k window
  passes, one per stage) multiplies full-data shuffles by the stage count,
  so one user-keyed shuffle + fold is the cheaper plan as long as per-user
  candidate events stay executor-bounded (true for web-scale funnels).
- ``cohort_retention`` is two hash aggregations and one user-keyed join: the
  first-activity frame and the distinct-activity frame share the user key,
  so AQE co-locates them in a single exchange reuse.
- ``ewma`` uses a ROWS-bounded frame (default 20) — state is O(frame), not
  O(history), and the fold inside ``F.aggregate`` is whole-stage-codegen'd.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def cohort_retention(
    events: DataFrame, user_col: str, day_col: str | Column
) -> DataFrame:
    """Retention matrix: for each cohort (day of a user's first activity),
    how many distinct users were active ``day_offset`` days later.

    Output: (cohort_day, day_offset, n_active).
    """
    day = F.col(day_col) if isinstance(day_col, str) else day_col
    e = events.select(F.col(user_col).alias("__u"), day.alias("__d"))
    firsts = e.groupBy("__u").agg(F.min("__d").alias("cohort_day"))
    active = e.distinct()
    return (
        active.join(firsts, "__u")
        .groupBy("cohort_day", (F.col("__d") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.count_distinct("__u").alias("n_active"))
    )


def funnel_stages(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    tiebreak_col: str,
    type_col: str,
    stages: Sequence[str],
    max_gap: int | None = None,
) -> DataFrame:
    """Per-user funnel progression: the highest stage index reached by
    matching ``stages`` in order, each step strictly later (``ts >`` the
    anchor timestamp of the previous matched step; ties at equal timestamps
    never advance the funnel, which keeps the result independent of
    within-timestamp event order). With ``max_gap`` set, each step must
    also occur within ``max_gap`` time units of the previous matched step
    (the conversion-window form every funnel product uses — a purchase a
    year after the click is not a conversion).

    Note the window semantics under the greedy fold: each step anchors on
    the EARLIEST qualifying event, so a user can fail the funnel even when
    a later in-window pair exists (standard first-touch funnel semantics;
    the oracle mirrors the same earliest-anchor rule).

    One user-keyed shuffle: candidate events are collected into a sorted
    array and folded with ``F.aggregate`` (accumulator = (stage, anchor_ts)).
    Output: (user, funnel_stage).
    """
    ev = events.where(F.col(type_col).isin(list(stages))).select(
        F.col(user_col).alias("__u"),
        F.struct(
            F.col(ts_col).cast("long").alias("ep"),
            F.col(tiebreak_col).cast("long").alias("tb"),
            F.col(type_col).alias("t"),
        ).alias("s"),
    )
    per_user = ev.groupBy("__u").agg(F.sort_array(F.collect_list("s")).alias("seq"))

    init = F.struct(
        F.lit(0).cast("int").alias("stage"), F.lit(-1).cast("long").alias("anchor")
    )

    def step(acc: Column, x: Column) -> Column:
        out = acc
        # Build the when-chain from the last stage down so the first matching
        # transition (there is at most one — stages are distinct) wins.
        for i, stage_type in enumerate(stages):
            cond = (acc.getField("stage") == i) & (x.getField("t") == stage_type)
            if i > 0:
                cond = cond & (x.getField("ep") > acc.getField("anchor"))
                if max_gap is not None:
                    cond = cond & (
                        x.getField("ep") <= acc.getField("anchor") + F.lit(int(max_gap))
                    )
            nxt = F.struct(
                F.lit(i + 1).cast("int").alias("stage"),
                x.getField("ep").cast("long").alias("anchor"),
            )
            out = F.when(cond, nxt).otherwise(out)
        return out

    folded = per_user.select(
        F.col("__u").alias(user_col),
        F.aggregate("seq", init, step).getField("stage").cast("bigint").alias("funnel_stage"),
    )
    return folded


def scd2_intervals(
    df: DataFrame, key_col: str, ts_col: str, tiebreak_col: str, state_col: str
) -> DataFrame:
    """Slowly-changing-dimension (type 2) history: collapse an ordered change
    stream into (key, version, state, valid_from, valid_to, n_events) rows,
    one per run of consecutive identical states; ``valid_to`` is NULL for the
    open (current) interval.

    Change detection via ``lag`` null-safe inequality, version numbering via
    a running sum, interval close via ``lead`` over the per-key version
    order — two window passes over one key-partitioned sort.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chg = F.when(
        ~F.lag(state_col).over(w).eqNullSafe(F.col(state_col)), F.lit(1)
    ).otherwise(F.lit(0))
    versioned = df.select(
        F.col(key_col),
        F.col(ts_col).cast("long").alias("__ts"),
        F.col(state_col).alias("__st"),
        F.sum(chg).over(run).cast("bigint").alias("version"),
    )
    g = versioned.groupBy(key_col, "version").agg(
        F.min("__st").alias("state"),  # constant within a version
        F.min("__ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy(key_col).orderBy("version")
    return g.select(
        key_col,
        "version",
        "state",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_events",
    )


def ewma(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    value_col: str,
    alpha: float = 0.2,
    lookback: int = 20,
) -> DataFrame:
    """Bounded-window exponentially-weighted moving average per key:
    ``s_1 = v_1; s_i = (1-alpha)*s_{i-1} + alpha*v_i`` folded over the last
    ``lookback`` observations (ROWS frame), seeded with the window's first
    value.

    The bounded frame is deliberate: the true infinite-memory EWMA needs the
    full per-key history in order (a sequential recurrence), while the
    contribution of an observation ``lookback`` steps back is
    ``(1-alpha)**lookback`` (< 1.2% at the defaults) — so the window fold is
    both the numerically-faithful and the O(frame)-state formulation. The
    fold runs left-to-right over an ordered frame on both engines, so the
    double arithmetic is bit-reproducible without decimal scaffolding.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, tiebreak_col)
        .rowsBetween(-(lookback - 1), 0)
    )
    vs = F.collect_list(F.col(value_col).cast("double")).over(w)
    tail = F.slice(vs, F.lit(2), F.greatest(F.size(vs) - 1, F.lit(0)))
    folded = F.aggregate(
        tail,
        F.element_at(vs, 1),
        lambda acc, x: acc * F.lit(1.0 - alpha) + x * F.lit(alpha),
    )
    return df.withColumn("ewma", F.round(folded, 6))
