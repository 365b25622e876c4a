"""As-of (point-in-time) join — the time-series primitive Spark lacks as a
built-in, re-expressed scale-first.

Naive formulations plan badly: an inequality join (``t_build <= t_probe``)
becomes a broadcast-nested-loop or cartesian product, and a per-probe-row
subquery doesn't distribute at all. The formulation here is the
union-then-window linear scan used by large-scale time-series stores:

1. tag probe rows side=1 and build rows side=0, null-padding each side's
   payload, and union them;
2. ONE window pass partitioned by the join key, ordered by
   ``(ts, side, tiebreak)``, carrying the build payload forward with
   ``last(..., ignorenulls=True)`` over rows unbounded-preceding..current;
3. keep the probe rows: each now holds the payload of the latest build row
   with ``build_ts <= probe_ts`` (backward as-of; ties at equal ts resolve
   to the build row because side 0 sorts first).

Cost: one hash shuffle on the key + one sort within partitions — linear in
total rows, skew-safe with AQE, no quadratic blow-up at any scale. This is
the plan shape that survives 100 TB; an inequality-join variant would not.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _tagged_union(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    probe_ts: str,
    build_ts: str,
    payload: Sequence[str],
    tiebreak: str | None,
) -> DataFrame:
    """Probe rows (side=1) ∪ build rows (side=0). The whole build payload —
    matched timestamp ``__mt`` plus every payload column — travels as ONE
    struct column ``_bpay`` (null on probe rows), so the downstream
    ``last(ignorenulls=True)`` carry selects a matched build ROW atomically:
    per-column carries would backfill a null payload value from a
    farther-away build row and mix columns from different rows. Build is
    pre-deduped to one row per (key, ts) by highest tiebreak."""
    if tiebreak:
        w0 = Window.partitionBy(on, build_ts).orderBy(F.col(tiebreak).desc())
        build = (
            build.withColumn("_rn", F.row_number().over(w0))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    tb: Column = (
        F.col(tiebreak) if tiebreak and tiebreak in build.columns else F.lit(0)
    )
    bpay = F.struct(
        F.col(build_ts).alias("__mt"),
        *[F.col(c).alias(c) for c in payload],
    )
    probe_struct = F.struct(*[F.col(c) for c in probe.columns])
    probe_type = probe.select(probe_struct.alias("s")).schema["s"].dataType
    bpay_type = build.select(bpay.alias("s")).schema["s"].dataType

    p = probe.select(
        F.col(on).alias("_k"),
        F.col(probe_ts).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("long").alias("_tb"),
        probe_struct.alias("_probe"),
        F.lit(None).cast(bpay_type).alias("_bpay"),
    )
    b = build.select(
        F.col(on).alias("_k"),
        F.col(build_ts).alias("_t"),
        F.lit(0).alias("_side"),
        tb.cast("long").alias("_tb"),
        F.lit(None).cast(probe_type).alias("_probe"),
        bpay.alias("_bpay"),
    )
    return p.unionByName(b)


def _asof_directional(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    probe_ts: str,
    build_ts: str,
    payload: Sequence[str],
    tiebreak: str | None,
    forward: bool,
) -> DataFrame:
    tagged = _tagged_union(probe, build, on, probe_ts, build_ts, payload, tiebreak)
    order = (
        [F.col("_t").desc(), F.col("_side").asc(), F.col("_tb").asc()]
        if forward
        else [F.col("_t").asc(), F.col("_side").asc(), F.col("_tb").asc()]
    )
    w = (
        Window.partitionBy("_k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn("_m", F.last("_bpay", ignorenulls=True).over(w))
    return carried.where(F.col("_side") == 1).select(
        F.col("_probe.*"),
        *[F.col("_m").getField(c).alias(f"asof_{c}") for c in payload],
    )


def asof_join_backward(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    probe_ts: str,
    build_ts: str,
    payload: Sequence[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """For every probe row, attach ``payload`` columns from the build row
    with the greatest ``build_ts <= probe_ts`` sharing the ``on`` key
    (null when no such row). All probe columns pass through unchanged;
    payload columns come back as ``asof_{name}``.

    ``tiebreak``: build column deciding among build rows with identical
    (key, ts) — highest wins — making the result deterministic where the
    input is ambiguous (same convention as the engine's other dedups:
    explicit row_number, never arbitrary-row).
    """
    return _asof_directional(
        probe, build, on, probe_ts, build_ts, payload, tiebreak, forward=False
    )


def asof_join_forward(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    probe_ts: str,
    build_ts: str,
    payload: Sequence[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Forward as-of: the build row with the SMALLEST ``build_ts >=
    probe_ts`` (inclusive). Same union+window linear scan as backward,
    scanning in descending time order — identical cost and plan shape."""
    return _asof_directional(
        probe, build, on, probe_ts, build_ts, payload, tiebreak, forward=True
    )


def asof_join_nearest(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    probe_ts: str,
    build_ts: str,
    payload: Sequence[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Nearest as-of: the build row minimizing ``|build_ts - probe_ts|``;
    equal distances resolve BACKWARD (the at-or-before row), keeping the
    result deterministic. Requires a numeric timestamp column (epoch).

    Plan shape: ONE tagged union, ONE key shuffle, TWO window sorts (asc +
    desc) over the same partitioning — Catalyst reuses the exchange, so
    nearest costs one extra in-partition sort over a directional as-of,
    never a join.
    """
    tagged = _tagged_union(probe, build, on, probe_ts, build_ts, payload, tiebreak)
    wb = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t").asc(), F.col("_side").asc(), F.col("_tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t").desc(), F.col("_side").asc(), F.col("_tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The matched row travels as ONE struct ("__mt" = matched build ts plus
    # the payload fields; payload columns are never "__mt"), so the
    # back/forward distance decision and the values it returns always come
    # from the SAME build row — per-column carries could mix rows whenever a
    # payload value is null.
    carried = tagged.withColumns(
        {
            "_bk": F.last("_bpay", ignorenulls=True).over(wb),
            "_fw": F.last("_bpay", ignorenulls=True).over(wf),
        }
    )
    use_back = F.col("_bk").isNotNull() & (
        F.col("_fw").isNull()
        | (
            (F.col("_t") - F.col("_bk").getField("__mt"))
            <= (F.col("_fw").getField("__mt") - F.col("_t"))
        )
    )
    chosen = F.when(use_back, F.col("_bk")).otherwise(F.col("_fw"))
    return carried.where(F.col("_side") == 1).select(
        F.col("_probe.*"),
        *[chosen.getField(c).alias(f"asof_{c}") for c in payload],
    )


def range_join_points_in_intervals(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    point_ts: str,
    start_col: str,
    end_col: str,
    payload: Sequence[str],
    bucket: int = 3600,
    tiebreak: str | None = None,
) -> DataFrame:
    """Point-in-interval range join: each point row matched to the interval
    rows (same ``on`` key) with ``start <= point_ts < end``; when several
    intervals cover a point and ``tiebreak`` is given, only the
    highest-tiebreak interval is kept (deterministic single match).

    Scale shape — the bucketed equi-join expansion: an inequality join
    would plan as broadcast-nested-loop/cartesian, quadratic per key.
    Instead every interval explodes to the coarse time buckets it covers
    (``sequence(floor(start/b), floor((end-1)/b))`` — cheap when bucket ≈
    typical interval length), points compute their single bucket, and the
    join becomes an EQUI-join on (key, bucket) + an exact containment
    filter. One hash shuffle each side, candidate set bounded by bucket
    co-residency — linear at 100 TB for bounded interval lengths. Intervals
    much longer than ``bucket`` multiply build rows; pick ``bucket`` near
    the p95 interval length.
    """
    pt = points.withColumn("_bkt", F.floor(F.col(point_ts) / bucket).cast("long"))
    iv = intervals.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bucket).cast("long"),
                F.floor((F.col(end_col) - 1) / bucket).cast("long"),
            )
        ),
    )
    iv_sel = iv.select(
        F.col(on).alias("_ik"),
        "_bkt",
        F.col(start_col).alias("_start"),
        F.col(end_col).alias("_end"),
        *[F.col(c).alias(f"in_{c}") for c in payload],
    )
    joined = pt.join(
        iv_sel,
        (pt[on] == iv_sel["_ik"]) & (pt["_bkt"] == iv_sel["_bkt"]),
    ).where(
        (F.col("_start") <= F.col(point_ts)) & (F.col(point_ts) < F.col("_end"))
    )
    if tiebreak:
        w = Window.partitionBy(*[pt[c] for c in points.columns]).orderBy(
            F.col(f"in_{tiebreak}").desc()
        )
        joined = joined.withColumn("_rn", F.row_number().over(w)).where(
            F.col("_rn") == 1
        )
    return joined.select(
        *[pt[c] for c in points.columns],
        *[F.col(f"in_{c}") for c in payload],
    )


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    key_cols: Sequence[str],
    a_start: str,
    a_end: str,
    b_start: str,
    b_end: str,
    bucket: int = 1024,
) -> DataFrame:
    """Interval-overlap join via grid blocking — the interval-interval
    counterpart of :func:`range_join_points_in_intervals` (which is
    point-in-interval).

    Each interval is replicated to every ``bucket``-wide grid cell it
    touches (``start div bucket .. end div bucket`` — integer division,
    engine-portable for the non-negative epochs this operates on), the
    sides equi-join on (keys, cell), the exact overlap predicate
    ``a_start <= b_end AND b_start <= a_end`` filters (touching intervals
    count, overlap 0), and a distinct collapses pairs that met in more
    than one cell. No inequality join, no cartesian: the join is a plain
    hash equi-join whose fan-out is bounded by span/bucket + 1 per
    interval.

    At 100 TB: pick ``bucket`` near the median interval span so the
    replication factor stays ~2; a few pathologically long intervals
    create hot cells — split those to a broadcast side or cap spans
    upstream (same playbook as the skew-join salting notes in SCALE.md).
    Column names must be pre-disambiguated by the caller (a and b share
    only ``key_cols``).
    """
    keys = list(key_cols)

    def bucketed(df: DataFrame, s: str, e: str) -> DataFrame:
        cells = F.sequence(
            F.expr(f"{s} div {bucket}"), F.expr(f"{e} div {bucket}")
        )
        return df.select("*", F.explode(cells).alias("_cell"))

    pairs = (
        bucketed(a, a_start, a_end)
        .join(bucketed(b, b_start, b_end), keys + ["_cell"])
        .where((F.col(a_start) <= F.col(b_end)) & (F.col(b_start) <= F.col(a_end)))
        .drop("_cell")
        .distinct()
    )
    overlap = F.least(F.col(a_end), F.col(b_end)) - F.greatest(
        F.col(a_start), F.col(b_start)
    )
    return pairs.withColumn("overlap", overlap.cast("bigint"))
