"""Event-stream operator coverage: sessionization, time-bucket rollups,
lead/lag analytics, running aggregates, JSON extraction, and the openfda
LLR / Monte-Carlo disproportionality pipeline re-targeted at the synthetic
``events``/``orders`` tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from platform_etl_backend_spark.catalog.registry import register, table, dec6, dbl
from platform_etl_backend_spark.operators.stats import (
    contingency_via_groupby,
    montecarlo_critical_values,
)

_EPOCH_DUCK = "date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)"


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` with an epoch-seconds column.

    The ``ts`` column's parquet encoding has varied across testdata
    generations: TIMESTAMP(NANOS) (which Spark's vectorized reader only
    accepts as raw INT64 via the legacy conf) vs TIMESTAMP(MICROS) (read
    natively as timestamp_ntz). Handle both: set the legacy conf so a nanos
    file reads as bigint, then branch on the observed dtype. Session TZ is
    pinned UTC (engine/session.py), so casting the ntz timestamp through
    timestamp→bigint yields epoch seconds. Spark's cast floors the
    micros value while DuckDB's ``date_diff('second', epoch, ts)`` counts
    boundary crossings (truncation toward zero) — identical for POST-1970
    timestamps, which all testdata is; pre-1970 data would need floor
    semantics in the oracle too.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = table(spark, sf_dir, "events")
    if dict(e.dtypes)["ts"] == "bigint":  # TIMESTAMP(NANOS) as raw INT64
        ep = F.expr("ts div 1000000000")
    else:  # timestamp / timestamp_ntz
        ep = F.col("ts").cast("timestamp").cast("bigint")
    return e.withColumn("ep", ep.cast("bigint"))


@register(
    "q_sessionize",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, value, {_EPOCH_DUCK} AS ep FROM events),
    flagged AS (
      SELECT user_id, event_id, value, ep,
             CASE WHEN ep - LAG(ep) OVER w > 1800 THEN 1 ELSE 0 END AS new_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)),
    sessions AS (
      SELECT user_id, value, ep,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ep, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged)
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           COUNT(*) AS n_events,
           CAST(MAX(ep) - MIN(ep) AS BIGINT) AS duration_s,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM sessions GROUP BY user_id, session_idx
    """,
    description="gap-based sessionization (30 min) via lag + running sum: a gap over "
    "30 min starts a new session; one row per (user, session) with its event count, "
    "duration and total value",
    tags=("window", "events"),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = e.withColumn(
        "new_session",
        F.when(F.col("ep") - F.lag("ep").over(w) > 1800, 1).otherwise(0),
    )
    sessions = flagged.withColumn("session_idx", F.sum("new_session").over(run).cast("bigint"))
    return sessions.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ep") - F.min("ep")).cast("bigint").alias("duration_s"),
        dbl(F.sum(dec6("value"))).alias("total_value"),
    )


@register(
    "q_session_window",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, value, {_EPOCH_DUCK} AS ep FROM events),
    flagged AS (
      SELECT user_id, value, ep,
             CASE WHEN ep - LAG(ep) OVER w >= 1800 THEN 1 ELSE 0 END AS new_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)),
    sessions AS (
      SELECT user_id, value, ep,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ep
                                    ROWS UNBOUNDED PRECEDING) AS s
      FROM flagged)
    SELECT user_id, CAST(MIN(ep) AS BIGINT) AS session_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM sessions GROUP BY user_id, s
    """,
    description="native session_window gap-merge aggregation (boundary: gap >= 30min "
    "starts a new session); one row per session with its start, event count and total value",
    tags=("window", "events", "session"),
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir).withColumn("tss", F.timestamp_seconds("ep"))
    return (
        e.groupBy(F.session_window("tss", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dbl(F.sum(dec6("value"))).alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@register(
    "q_time_buckets",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type, COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY bucket, event_type
    """,
    description="tumbling one-hour time-window rollup: event count and total value per "
    "(hour bucket, event type)",
    tags=("agg", "events"),
)
def q_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    return (
        e.groupBy(
            F.from_unixtime(F.expr("(ep div 3600) * 3600"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"), dbl(F.sum(dec6("value"))).alias("total_value"))
    )


@register(
    "q_lead_lag",
    oracle=f"""
    SELECT event_id, user_id,
           value - LAG(value) OVER (PARTITION BY user_id ORDER BY {_EPOCH_DUCK}, event_id)
               AS delta
    FROM events
    """,
    description="lead/lag delta per key (window family; not in the reference — engine extension)",
    tags=("window", "events"),
)
def q_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    return e.select(
        "event_id", "user_id", (F.col("value") - F.lag("value").over(w)).alias("delta")
    )


@register(
    "q_running_sum",
    oracle=f"""
    SELECT event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6)))
                OVER (PARTITION BY user_id ORDER BY {_EPOCH_DUCK}, event_id
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
    FROM events
    """,
    description="running (cumulative) aggregate over an ordered window",
    tags=("window", "events"),
)
def q_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ep", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select("event_id", dbl(F.sum(dec6("value")).over(w)).alias("running_value"))


@register(
    "q_running_collect",
    oracle=f"""
    SELECT event_id,
           array_to_string(
               list(event_type) OVER (PARTITION BY user_id ORDER BY {_EPOCH_DUCK}, event_id
                                      ROWS UNBOUNDED PRECEDING), '|') AS seen_types
    FROM events
    """,
    description="ordered-window collect_list (running accumulation) "
    "(W6; Processing.scala:65-111, Embedding.scala:42-47). '|'-serialized output "
    "(canonicalizer-proof contract).",
    tags=("window", "events", "nesting"),
)
def q_running_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ep", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id", F.concat_ws("|", F.collect_list("event_type").over(w)).alias("seen_types")
    )


@register(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
    description="column-level JSON extraction (engine extension; reference parses JSON "
    "only at reader level, SURVEY §2.8)",
    tags=("scalar", "events"),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("sum_k"), F.count(F.lit(1)).alias("cnt")
    )


# ---------------------------------------------------------------------------
# openfda disproportionality pipeline analog: drug := event_type,
# reaction := props.k decile, report := event_id.
# ---------------------------------------------------------------------------

from platform_etl_backend_spark.functions.portable_math import duck_portable_ln_ratio
from platform_etl_backend_spark.operators.stats import duck_portable_llr

_LLR_ORACLE = f"""
WITH base AS (
  SELECT event_id AS report,
         event_type AS drug,
         CAST(floor(CAST(json_extract_string(props, '$.k') AS INTEGER) / 10) AS INTEGER) AS reaction
  FROM events),
stats AS (
  SELECT report, drug, reaction,
         COUNT(DISTINCT report) OVER (PARTITION BY reaction) AS n_reaction,
         COUNT(DISTINCT report) OVER (PARTITION BY drug) AS n_drug,
         COUNT(DISTINCT report) OVER (PARTITION BY drug, reaction) AS n_pair
  FROM base),
contingency AS (
  SELECT DISTINCT drug, reaction,
         CAST(n_pair AS DOUBLE) AS A,
         CAST(n_reaction - n_pair AS DOUBLE) AS B,
         CAST(n_drug - n_pair AS DOUBLE) AS C,
         CAST((SELECT COUNT(DISTINCT report) FROM base) - n_drug - n_reaction + n_pair AS DOUBLE) AS D
  FROM stats)
SELECT drug, reaction, A, B, C, D,
       ROUND({duck_portable_llr()}, 6) AS llr
FROM contingency
WHERE C >= 1
"""


def _event_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir).select(
        F.col("event_id").alias("report"),
        F.col("event_type").alias("drug"),
        F.floor(F.get_json_object("props", "$.k").cast("int") / 10).cast("int").alias("reaction"),
    )
    return contingency_via_groupby(e, "report", "drug", "reaction")


@register(
    "q_llr_contingency",
    oracle=_LLR_ORACLE,
    description="FAERS-style LLR disproportionality contingency "
    "(PrepareSummaryStatistics + PrepareForMontecarlo semantics, exact counts)",
    tags=("stats", "window", "events"),
)
def q_llr_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _event_contingency(spark, sf_dir)
    return out.select(
        "drug", "reaction", "A", "B", "C", "D", F.round("llr", 6).alias("llr")
    )


@register(
    "q_montecarlo_critical",
    oracle=None,  # seeded simulation: not SQL-expressible; driver rows-only check
    description="per-drug Monte-Carlo critical values (X4; MonteCarloSampling.scala:23-48) "
    "as a seeded grouped applyInPandas — deterministic per group key",
    tags=("stats", "pandas-udf", "events"),
)
def q_montecarlo_critical(spark: SparkSession, sf_dir: str) -> DataFrame:
    contingency = _event_contingency(spark, sf_dir)
    return montecarlo_critical_values(contingency, "drug", permutations=100, percentile=0.95)


# The as-of queries' inputs: click probes, and purchases deduplicated per
# (user, second) keeping the highest event id.
_ASOF_INPUTS_DUCK = f"""
    WITH e AS (SELECT event_id, user_id, event_type, value, {_EPOCH_DUCK} AS ep FROM events),
    c AS (SELECT event_id, user_id, ep FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id, ep, event_id AS purchase_id, value AS purchase_value,
                 ROW_NUMBER() OVER (PARTITION BY user_id, ep ORDER BY event_id DESC) AS rn
          FROM e WHERE event_type = 'purchase'),
    pd AS (SELECT * FROM p WHERE rn = 1),
"""


def _asof_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Click probes and purchase builds of the as-of queries."""
    e = events_table(spark, sf_dir)
    clicks = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ep")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ep",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    return clicks, purchases


@register(
    "q_asof_join",
    oracle=_ASOF_INPUTS_DUCK + """
    j AS (SELECT c.event_id, c.user_id, c.ep, pd.purchase_id, pd.purchase_value,
                 ROW_NUMBER() OVER (PARTITION BY c.event_id
                                    ORDER BY pd.ep DESC, pd.purchase_id DESC) AS rn
          FROM c LEFT JOIN pd ON pd.user_id = c.user_id AND pd.ep <= c.ep)
    SELECT event_id, user_id, ep,
           purchase_id AS asof_purchase_id, purchase_value AS asof_purchase_value
    FROM j WHERE rn = 1
    """,
    description="backward as-of join (click → latest purchase at-or-before, per user) "
    "via the union+window linear scan — no inequality join, one key shuffle; "
    "the oracle is the quadratic LEFT-JOIN formulation DuckDB can afford at test scale",
    tags=("join", "asof", "events"),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.asof import asof_join_backward

    clicks, purchases = _asof_inputs(spark, sf_dir)
    return asof_join_backward(
        clicks, purchases, on="user_id", probe_ts="ep", build_ts="ep",
        payload=["purchase_id", "purchase_value"], tiebreak="purchase_id",
    )


@register(
    "q_time_weighted_avg",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, value, {_EPOCH_DUCK} AS ep FROM events),
    o AS (SELECT user_id, value, ep,
                 lead(ep) OVER (PARTITION BY user_id ORDER BY ep, event_id) AS nxt
          FROM e)
    SELECT user_id,
           round(CAST(SUM(CAST(value AS DECIMAL(18,6)) * (nxt - ep)) AS DOUBLE)
                 / CAST(MAX(ep) - MIN(ep) AS DOUBLE), 6) AS twa,
           CAST(MAX(ep) - MIN(ep) AS BIGINT) AS span_s
    FROM o GROUP BY user_id HAVING MAX(ep) > MIN(ep)
    """,
    description="time-weighted average per user (each value weighted by its "
    "holding duration until the next event; hypertable-style gauge TWA the "
    "reference lacks): one window pass + one groupBy, duration-weighted "
    "contributions ride DECIMAL for distributed-sum determinism",
    tags=("window", "events", "timeseries"),
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    weighted = dec6("value") * (F.lead("ep").over(w) - F.col("ep"))
    return (
        e.select("user_id", "ep", weighted.alias("wv"))
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum("wv").cast("double")
                / (F.max("ep") - F.min("ep")).cast("double"),
                6,
            ).alias("twa"),
            (F.max("ep") - F.min("ep")).cast("bigint").alias("span_s"),
        )
        .where(F.col("span_s") > 0)
    )


@register(
    "q_asof_forward",
    oracle=_ASOF_INPUTS_DUCK + """
    j AS (SELECT c.event_id, c.user_id, c.ep, pd.purchase_id, pd.purchase_value,
                 ROW_NUMBER() OVER (PARTITION BY c.event_id
                                    ORDER BY pd.ep ASC, pd.purchase_id DESC) AS rn
          FROM c LEFT JOIN pd ON pd.user_id = c.user_id AND pd.ep >= c.ep)
    SELECT event_id, user_id, ep,
           purchase_id AS asof_purchase_id, purchase_value AS asof_purchase_value
    FROM j WHERE rn = 1
    """,
    description="forward as-of join (click → earliest purchase at-or-after, per user) "
    "— same union+window linear scan as backward, descending time order; the oracle "
    "is the quadratic LEFT-JOIN formulation DuckDB can afford at test scale",
    tags=("join", "asof", "events"),
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.asof import asof_join_forward

    clicks, purchases = _asof_inputs(spark, sf_dir)
    return asof_join_forward(
        clicks, purchases, on="user_id", probe_ts="ep", build_ts="ep",
        payload=["purchase_id", "purchase_value"], tiebreak="purchase_id",
    )


@register(
    "q_asof_nearest",
    oracle=_ASOF_INPUTS_DUCK + """
    j AS (SELECT c.event_id, c.user_id, c.ep, pd.purchase_id, pd.purchase_value,
                 ROW_NUMBER() OVER (PARTITION BY c.event_id
                                    ORDER BY abs(pd.ep - c.ep) ASC,
                                             CASE WHEN pd.ep <= c.ep THEN 0 ELSE 1 END ASC,
                                             pd.purchase_id DESC) AS rn
          FROM c LEFT JOIN pd ON pd.user_id = c.user_id)
    SELECT event_id, user_id, ep,
           purchase_id AS asof_purchase_id, purchase_value AS asof_purchase_value
    FROM j WHERE rn = 1
    """,
    description="nearest as-of join (click → closest purchase in time, ties resolve "
    "backward) — one tagged union, one key shuffle, two window sorts over a reused "
    "exchange; never a join. Oracle is the quadratic all-pairs argmin",
    tags=("join", "asof", "events"),
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.asof import asof_join_nearest

    clicks, purchases = _asof_inputs(spark, sf_dir)
    return asof_join_nearest(
        clicks, purchases, on="user_id", probe_ts="ep", build_ts="ep",
        payload=["purchase_id", "purchase_value"], tiebreak="purchase_id",
    )


@register(
    "q_range_join",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, event_type, {_EPOCH_DUCK} AS ep FROM events),
    c AS (SELECT event_id, user_id, ep FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id, ep AS s, ep + 3600 AS en, event_id AS purchase_id
          FROM e WHERE event_type = 'purchase'),
    j AS (SELECT c.event_id, c.user_id, c.ep, p.purchase_id,
                 ROW_NUMBER() OVER (PARTITION BY c.event_id
                                    ORDER BY p.purchase_id DESC) AS rn
          FROM c JOIN p ON p.user_id = c.user_id AND p.s <= c.ep AND c.ep < p.en)
    SELECT event_id, user_id, ep, purchase_id AS in_purchase_id FROM j WHERE rn = 1
    """,
    description="point-in-interval range join (clicks within 1h of a purchase, per user) "
    "via bucketed equi-join expansion — no inequality join; the oracle is the "
    "quadratic formulation DuckDB can afford at test scale",
    tags=("join", "range", "events"),
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.asof import range_join_points_in_intervals

    e = events_table(spark, sf_dir)
    clicks = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ep")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ep").alias("s"),
        (F.col("ep") + 3600).alias("en"),
        F.col("event_id").alias("purchase_id"),
    )
    return range_join_points_in_intervals(
        clicks, purchases, on="user_id", point_ts="ep", start_col="s", end_col="en",
        payload=["purchase_id"], bucket=3600, tiebreak="purchase_id",
    )


@register(
    "q_range_frame_avg",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, value, {_EPOCH_DUCK} AS ep FROM events)
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_in_window,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                 / (COUNT(*) OVER w), 6) AS avg_1h
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ep
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    description="time-RANGE window frame (trailing 1-hour average per user): "
    "value-based frame bounds, not row counts — the sliding-metric shape; "
    "decimal frame sums keep the sliding aggregation order-invariant",
    tags=("window", "events", "range-frame"),
)
def q_range_frame_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ep").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_in_window"),
        F.round(
            dbl(F.sum(dec6("value")).over(w)) / F.count(F.lit(1)).over(w), 6
        ).alias("avg_1h"),
    )


@register(
    "q_locf_fill",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, event_type, value, {_EPOCH_DUCK} AS ep FROM events),
    g AS (SELECT event_id, user_id, ep,
                 CASE WHEN event_type = 'error' THEN NULL ELSE value END AS vg
          FROM e)
    SELECT event_id, user_id,
           last_value(vg IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ep, event_id
             ROWS UNBOUNDED PRECEDING) AS filled
    FROM g
    """,
    description="gap-fill / forward-fill (LOCF): error readings are nulled and "
    "carried forward from the last good observation per user — the time-series "
    "imputation primitive (sensor/gauge pipelines); one ordered window, "
    "last(ignorenulls)",
    tags=("window", "events", "gapfill"),
)
def q_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    vg = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ep", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "event_id", "user_id",
        F.last(vg, ignorenulls=True).over(w).alias("filled"),
    )


@register(
    "q_cohort_retention",
    oracle=f"""
    WITH e AS (SELECT user_id, CAST({_EPOCH_DUCK} // 86400 AS BIGINT) AS day FROM events),
    f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id),
    a AS (SELECT DISTINCT user_id, day FROM e)
    SELECT f.cohort_day, a.day - f.cohort_day AS day_offset,
           COUNT(DISTINCT a.user_id) AS n_active
    FROM a JOIN f USING (user_id) GROUP BY 1, 2
    """,
    description="cohort retention matrix (cohort = day of first activity; "
    "n distinct users active at each day offset) — the product-analytics "
    "rollup: two hash aggregations + one user-keyed join sharing the same "
    "key, so the exchange is reused",
    tags=("agg", "events", "cohort"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.sequence import cohort_retention

    e = events_table(spark, sf_dir)
    return cohort_retention(e, "user_id", F.expr("ep div 86400").cast("bigint"))


# Users per deepest funnel stage, from the per-stage first times a1..a3 in
# CTEs s1..s3 over the events CTE e.
_FUNNEL_STAGE_COUNTS_DUCK = """
    u AS (SELECT DISTINCT user_id FROM e),
    st AS (SELECT u.user_id,
                  CASE WHEN a3 IS NOT NULL THEN 3 WHEN a2 IS NOT NULL THEN 2
                       WHEN a1 IS NOT NULL THEN 1 ELSE 0 END AS stage
           FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
                  LEFT JOIN s3 USING (user_id))
    SELECT CAST(stage AS BIGINT) AS funnel_stage, COUNT(*) AS n_users
    FROM st GROUP BY 1
    """


@register(
    "q_funnel_stages",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, {_EPOCH_DUCK} AS ep FROM events),
    s1 AS (SELECT user_id, MIN(ep) AS a1 FROM e WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(ep) AS a2 FROM e JOIN s1 ON e.user_id = s1.user_id
           AND e.ep > s1.a1 WHERE event_type = 'click' GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(ep) AS a3 FROM e JOIN s2 ON e.user_id = s2.user_id
           AND e.ep > s2.a2 WHERE event_type = 'purchase' GROUP BY e.user_id),
    """ + _FUNNEL_STAGE_COUNTS_DUCK,
    description="ordered funnel (signup -> click -> purchase, each step "
    "strictly later): per-user sorted-array fold via F.aggregate — ONE "
    "user-keyed shuffle for the whole funnel instead of one join pass per "
    "stage (the oracle is that per-stage-join formulation; both agree "
    "because each step takes the earliest qualifying event)",
    tags=("agg", "events", "funnel", "hof"),
)
def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.sequence import funnel_stages

    e = events_table(spark, sf_dir)
    st = funnel_stages(
        e, "user_id", "ep", "event_id", "event_type",
        stages=("signup", "click", "purchase"),
    )
    return st.groupBy("funnel_stage").agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "q_scd2_intervals",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, event_type, {_EPOCH_DUCK} AS ep FROM events),
    fl AS (SELECT user_id, event_id, event_type, ep,
                  CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                       THEN 1 ELSE 0 END AS chg
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)),
    v AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ep, event_id
                                   ROWS UNBOUNDED PRECEDING) AS ver FROM fl),
    g AS (SELECT user_id, ver, MIN(event_type) AS state,
                 CAST(MIN(ep) AS BIGINT) AS valid_from, COUNT(*) AS n_events
          FROM v GROUP BY 1, 2)
    SELECT user_id, CAST(ver AS BIGINT) AS version, state, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY ver) AS valid_to,
           n_events
    FROM g
    """,
    description="SCD2 interval construction from a change stream (runs of "
    "consecutive identical states become versioned valid_from/valid_to rows, "
    "NULL valid_to = open interval) — the CDC-to-dimension-history operator: "
    "lag change-detect + running-sum versioning + lead interval close, two "
    "window passes over one key-partitioned sort",
    tags=("window", "events", "scd2"),
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.sequence import scd2_intervals

    e = events_table(spark, sf_dir)
    return scd2_intervals(e, "user_id", "ep", "event_id", "event_type")


@register(
    "q_ewma",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, value, {_EPOCH_DUCK} AS ep FROM events),
    l AS (SELECT event_id, user_id,
                 list(value) OVER (PARTITION BY user_id ORDER BY ep, event_id
                                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vs
          FROM e)
    SELECT event_id, user_id,
           ROUND(list_reduce(vs, (acc, x) -> acc * 0.8 + x * 0.2), 6) AS ewma
    FROM l
    """,
    description="bounded-window EWMA (alpha=0.2 over the trailing 20 "
    "observations, seeded with the window's first value): ordered-frame "
    "collect + F.aggregate fold — the sequential recurrence runs "
    "left-to-right over identical doubles on both engines, so it is "
    "bit-reproducible without decimal scaffolding (tail contribution "
    "beyond the frame < (1-alpha)^20 = 1.2%)",
    tags=("window", "events", "timeseries", "hof"),
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.sequence import ewma

    e = events_table(spark, sf_dir)
    return ewma(
        e, "user_id", "ep", "event_id", "value", alpha=0.2, lookback=20
    ).select("event_id", "user_id", "ewma")


@register(
    "q_variant_json",
    oracle="""
    SELECT event_type,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS max_k,
           COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
    description="semi-structured VARIANT path (Spark 4): parse_json once into a "
    "VariantType column, then variant_get typed extraction — the modern "
    "binary-encoded alternative to per-access string parsing "
    "(get_json_object re-parses the JSON text on every call site)",
    tags=("scalar", "events", "variant"),
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    v = e.withColumn("pv", F.parse_json("props"))
    k = F.variant_get("pv", "$.k", "int")
    return v.groupBy("event_type").agg(
        F.min(k).cast("bigint").alias("min_k"),
        F.max(k).cast("bigint").alias("max_k"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "q_sliding_dau",
    oracle=f"""
    WITH e AS (SELECT DISTINCT user_id,
                      CAST({_EPOCH_DUCK} // 86400 AS BIGINT) AS day FROM events),
    d AS (SELECT DISTINCT day FROM e),
    x AS (SELECT user_id, day + unnest(generate_series(0, 6)) AS rday FROM e)
    SELECT d.day AS report_day, COUNT(DISTINCT x.user_id) AS dau7
    FROM x JOIN d ON x.rday = d.day GROUP BY 1
    """,
    description="7-day sliding distinct active users per observed day: the "
    "windowed-count-distinct metric COUNT DISTINCT OVER RANGE cannot express. "
    "Scale shape: each distinct (user, day) fans out to the <=7 report days "
    "it contributes to (map-side sequence explode — fan-out bounded by the "
    "window length, never the data), then ONE day-keyed distinct aggregation; "
    "the observed-day dimension joins broadcast",
    tags=("agg", "events", "sliding-window"),
)
def q_sliding_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        events_table(spark, sf_dir)
        .select("user_id", F.expr("ep div 86400").cast("bigint").alias("day"))
        .distinct()
    )
    days = e.select("day").distinct()
    x = e.select(
        "user_id", "day", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
    ).select("user_id", (F.col("day") + F.col("off")).alias("rday"))
    return (
        x.join(F.broadcast(days), x["rday"] == days["day"])
        .groupBy(F.col("day").alias("report_day"))
        .agg(F.count_distinct("user_id").alias("dau7"))
    )


@register(
    "q_funnel_windowed",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, {_EPOCH_DUCK} AS ep FROM events),
    s1 AS (SELECT user_id, MIN(ep) AS a1 FROM e WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(ep) AS a2 FROM e JOIN s1 ON e.user_id = s1.user_id
           AND e.ep > s1.a1 AND e.ep <= s1.a1 + 86400
           WHERE event_type = 'click' GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(ep) AS a3 FROM e JOIN s2 ON e.user_id = s2.user_id
           AND e.ep > s2.a2 AND e.ep <= s2.a2 + 86400
           WHERE event_type = 'purchase' GROUP BY e.user_id),
    """ + _FUNNEL_STAGE_COUNTS_DUCK,
    description="conversion-window funnel (each step within 24h of the "
    "previous matched step, earliest-anchor first-touch semantics) — the "
    "same single-shuffle sorted-array fold as q_funnel_stages with the "
    "max_gap bound in the accumulator transition",
    tags=("agg", "events", "funnel", "hof"),
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.sequence import funnel_stages

    e = events_table(spark, sf_dir)
    st = funnel_stages(
        e, "user_id", "ep", "event_id", "event_type",
        stages=("signup", "click", "purchase"), max_gap=86400,
    )
    return st.groupBy("funnel_stage").agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "q_chi_square",
    oracle="""
    WITH o AS (
      SELECT event_type AS r,
             CAST(floor(CAST(json_extract_string(props, '$.k') AS INTEGER) / 10) AS INTEGER) AS c,
             COUNT(*) AS obs
      FROM events GROUP BY 1, 2),
    rt AS (SELECT r, CAST(SUM(obs) AS BIGINT) AS rn FROM o GROUP BY r),
    ct AS (SELECT c, CAST(SUM(obs) AS BIGINT) AS cn FROM o GROUP BY c),
    n AS (SELECT CAST(SUM(obs) AS BIGINT) AS nn FROM o),
    terms AS (
      SELECT CAST(round(
               (CAST(o.obs AS DOUBLE) - (CAST(rt.rn * ct.cn AS DOUBLE) / nn))
               * (CAST(o.obs AS DOUBLE) - (CAST(rt.rn * ct.cn AS DOUBLE) / nn))
               / (CAST(rt.rn * ct.cn AS DOUBLE) / nn), 9) AS DECIMAL(28,9)) AS t
      FROM o JOIN rt ON o.r = rt.r JOIN ct ON o.c = ct.c, n),
    dims AS (SELECT (SELECT COUNT(*) FROM rt) AS nr, (SELECT COUNT(*) FROM ct) AS nc)
    SELECT ROUND(CAST(SUM(t) AS DOUBLE), 6) AS chi2,
           (SELECT CAST((nr - 1) * (nc - 1) AS BIGINT) FROM dims) AS dof
    FROM terms
    """,
    description="chi-square test of independence over the event-type x "
    "k-decile contingency (the classic categorical-association statistic "
    "beside the LLR family): observed/expected from one groupBy + broadcast "
    "marginals; per-cell terms are pure rational arithmetic in IEEE doubles "
    "(no transcendental), rounded to 9 dp and decimal-summed for "
    "order-invariance; statistic + degrees of freedom out",
    tags=("stats", "events"),
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    o = (
        e.select(
            F.col("event_type").alias("r"),
            F.floor(F.get_json_object("props", "$.k").cast("int") / 10)
            .cast("int")
            .alias("c"),
        )
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    rt = o.groupBy("r").agg(F.sum("obs").cast("bigint").alias("rn"))
    ct = o.groupBy("c").agg(F.sum("obs").cast("bigint").alias("cn"))
    n = o.agg(F.sum("obs").cast("bigint").alias("nn"))
    exp = (F.col("rn") * F.col("cn")).cast("double") / F.col("nn")
    term = F.round(
        (F.col("obs").cast("double") - exp) * (F.col("obs").cast("double") - exp) / exp,
        9,
    ).cast("decimal(28,9)")
    terms = (
        o.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .crossJoin(F.broadcast(n))
        .select(term.alias("t"))
    )
    nr = rt.agg(F.count(F.lit(1)).alias("nr"))
    nc = ct.agg(F.count(F.lit(1)).alias("nc"))
    dof = nr.crossJoin(F.broadcast(nc)).select(
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint").alias("dof")
    )
    return terms.agg(
        F.round(F.sum("t").cast("double"), 6).alias("chi2")
    ).crossJoin(F.broadcast(dof))


@register(
    "q_sequence_match",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, event_type, {_EPOCH_DUCK} AS ep FROM events),
    s AS (SELECT user_id,
                 string_agg(CASE event_type WHEN 'signup' THEN 's' WHEN 'click' THEN 'c'
                                 WHEN 'view' THEN 'v' WHEN 'purchase' THEN 'p'
                                 ELSE 'e' END, '' ORDER BY ep, event_id) AS seq
          FROM e GROUP BY user_id)
    SELECT user_id, length(seq) AS n_events,
           (length(seq) - length(regexp_replace(seq, 'cp', '', 'g'))) // 2 AS n_click_then_buy,
           CAST(regexp_matches(seq, 'sc[cv]*p') AS INT) AS has_funnel_path
    FROM s
    """,
    description="event-sequence pattern matching (MATCH_RECOGNIZE-lite): "
    "each user's ordered event history is encoded as a one-char-per-event "
    "string (ordered string_agg / sorted-collect fold), then sequence "
    "patterns are plain RE2-and-Java-safe regexes — adjacent click-then-buy "
    "count via replace-length arithmetic, funnel-path existence via match. "
    "One user-keyed shuffle; the per-user string is bounded by history "
    "length (pre-filter candidate event types at scale, as with the funnel)",
    tags=("events", "sequence", "regex"),
)
def q_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    code = (
        F.when(F.col("event_type") == "signup", "s")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "purchase", "p")
        .otherwise("e")
    )
    per_user = (
        e.select(
            "user_id",
            F.struct(F.col("ep"), F.col("event_id"), code.alias("ch")).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "", F.transform(F.sort_array(F.collect_list("s")), lambda x: x["ch"])
            ).alias("seq")
        )
    )
    return per_user.select(
        "user_id",
        F.length("seq").cast("bigint").alias("n_events"),
        F.expr("(length(seq) - length(regexp_replace(seq, 'cp', ''))) div 2")
        .cast("bigint")
        .alias("n_click_then_buy"),
        F.when(F.col("seq").rlike("sc[cv]*p"), 1).otherwise(0).cast("int")
        .alias("has_funnel_path"),
    )


def _dsum6(c: Column) -> Column:
    """Order-invariant double sum: each term rounded to a 6-place decimal."""
    return F.sum(F.round(c, 6).cast("decimal(18,6)")).cast("double")


def _xy_moment_sums() -> list[Column]:
    """n, sx, sy, sxy, sxx of columns x and y, for a grouped Pearson or OLS."""
    x, y = F.col("x"), F.col("y")
    return [
        F.count(F.lit(1)).alias("n"),
        _dsum6(x).alias("sx"),
        _dsum6(y).alias("sy"),
        _dsum6(x * y).alias("sxy"),
        _dsum6(x * x).alias("sxx"),
    ]


@register(
    "q_autocorr_lag1",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, value, {_EPOCH_DUCK} AS ep FROM events),
    p AS (SELECT user_id, value AS y,
                 LAG(value) OVER (PARTITION BY user_id ORDER BY ep, event_id) AS x
          FROM e),
    s AS (SELECT user_id, COUNT(*) AS n,
                 CAST(SUM(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(round(y, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(round(y * y, 6) AS DECIMAL(18,6))) AS DOUBLE) AS syy
          FROM p WHERE x IS NOT NULL GROUP BY user_id)
    SELECT user_id, n,
           ROUND((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r1
    FROM s WHERE (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
    """,
    description="lag-1 autocorrelation of each user's value series (the "
    "time-series persistence / seasonality-screen statistic): one lag "
    "window + one grouped pass of decimal-rounded cross-moment sums "
    "(order-invariant), then the Pearson formula in pure IEEE "
    "mul/div/sqrt — sqrt is correctly rounded by IEEE 754, so no libm "
    "portability scaffolding is needed",
    tags=("stats", "window", "events", "timeseries"),
)
def q_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    p = e.select(
        "user_id", F.col("value").alias("y"), F.lag("value").over(w).alias("x")
    ).where(F.col("x").isNotNull())
    s = p.groupBy("user_id").agg(
        *_xy_moment_sums(), _dsum6(F.col("y") * F.col("y")).alias("syy")
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.where(varx * vary > 0).select(
        "user_id", "n", F.round(num / F.sqrt(varx * vary), 6).alias("r1")
    )


@register(
    "q_linear_trend",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, value, {_EPOCH_DUCK} AS ep FROM events),
    b AS (SELECT user_id, MIN(ep) AS ep0 FROM e GROUP BY user_id),
    p AS (SELECT e.user_id,
                 CAST(e.ep - b.ep0 AS DOUBLE) / 86400.0 AS x,
                 e.value AS y
          FROM e JOIN b ON e.user_id = b.user_id),
    s AS (SELECT user_id, COUNT(*) AS n,
                 CAST(SUM(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(round(y, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxx
          FROM p GROUP BY user_id)
    SELECT user_id, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_per_day,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
               AS intercept
    FROM s WHERE n * sxx - sx * sx > 0
    """,
    description="per-group ordinary-least-squares trend (slope per day + "
    "intercept of each user's value series over time): days-since-first as "
    "the regressor (keeps the moment sums small and the decimals exact), "
    "decimal-rounded moment sums for order-invariance, then the closed-form "
    "OLS in pure IEEE arithmetic — the grouped regression primitive for "
    "trend screens and simple forecasting baselines",
    tags=("stats", "events", "timeseries", "regression"),
)
def q_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    b = e.groupBy("user_id").agg(F.min("ep").alias("ep0"))
    p = e.join(b, "user_id").select(
        "user_id",
        ((F.col("ep") - F.col("ep0")).cast("double") / 86400.0).alias("x"),
        F.col("value").alias("y"),
    )
    s = p.groupBy("user_id").agg(*_xy_moment_sums())
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / det
    return s.where(det > 0).select(
        "user_id", "n",
        F.round(slope, 6).alias("slope_per_day"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias("intercept"),
    )


@register(
    "q_mode_per_group",
    oracle="""
    WITH c AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q, COUNT(*) AS cnt
               FROM lineitem GROUP BY 1, 2)
    SELECT l_returnflag, q AS mode_qty, cnt AS mode_count
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                       ORDER BY cnt DESC, q ASC) AS rn FROM c)
    WHERE rn = 1
    """,
    description="deterministic per-group mode (most frequent value, ties to "
    "the SMALLEST value): two hash aggregations with the "
    "max(struct(count, -value)) argmax — the built-in mode() is "
    "tie-arbitrary on BOTH engines, so neither side uses it",
    tags=("agg", "olap"),
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    c = (
        li.select("l_returnflag", F.col("l_quantity").cast("bigint").alias("q"))
        .groupBy("l_returnflag", "q")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        c.groupBy("l_returnflag")
        .agg(F.max(F.struct(F.col("cnt"), (-F.col("q")).alias("nq"))).alias("m"))
        .select(
            "l_returnflag",
            (-F.col("m.nq")).cast("bigint").alias("mode_qty"),
            F.col("m.cnt").alias("mode_count"),
        )
    )


@register(
    "q_conversion_latency",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, {_EPOCH_DUCK} AS ep FROM events),
    s1 AS (SELECT user_id, MIN(ep) AS a1 FROM e WHERE event_type = 'signup' GROUP BY user_id),
    s3 AS (SELECT e.user_id, MIN(ep) AS a3 FROM e JOIN s1 ON e.user_id = s1.user_id
           AND e.ep > s1.a1 WHERE event_type = 'purchase' GROUP BY e.user_id),
    lat AS (SELECT s1.user_id, s3.a3 - s1.a1 AS latency_s FROM s1 JOIN s3 USING (user_id)),
    ranked AS (SELECT latency_s,
                      ROW_NUMBER() OVER (ORDER BY latency_s) AS rn,
                      COUNT(*) OVER () AS n
               FROM lat)
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           CAST(MIN(latency_s) AS BIGINT) AS min_s,
           CAST(MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                         THEN latency_s END) AS BIGINT) AS median_s,
           CAST(MAX(latency_s) AS BIGINT) AS max_s
    FROM ranked
    """,
    description="time-to-conversion distribution (first signup -> first "
    "subsequent purchase per user): the survival-analysis-lite metric every "
    "funnel report pairs with stage counts — two grouped min passes, then "
    "rank-pick median over the (small) converted-user frame; all integer "
    "seconds, no float anywhere",
    tags=("agg", "events", "funnel", "latency"),
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    s1 = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ep").alias("a1"))
    )
    s3 = (
        e.where(F.col("event_type") == "purchase")
        .join(s1, "user_id")
        .where(F.col("ep") > F.col("a1"))
        .groupBy("user_id")
        .agg(F.min("ep").alias("a3"))
    )
    lat = s1.join(s3, "user_id").select((F.col("a3") - F.col("a1")).alias("latency_s"))
    w = Window.orderBy("latency_s")
    wn = Window.partitionBy()
    ranked = lat.select(
        "latency_s",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_converted"),
        F.min("latency_s").cast("bigint").alias("min_s"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")).cast("bigint"),
                   F.col("latency_s"))
        ).cast("bigint").alias("median_s"),
        F.max("latency_s").cast("bigint").alias("max_s"),
    )


@register(
    "q_interval_overlap",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, event_type, {_EPOCH_DUCK} AS ep FROM events),
    a AS (SELECT user_id, event_id AS a_id, ep AS a_start, ep + 600 AS a_end
          FROM e WHERE event_type = 'click'),
    b AS (SELECT user_id, event_id AS b_id, ep AS b_start, ep + 900 AS b_end
          FROM e WHERE event_type = 'purchase'),
    p AS (SELECT a.user_id, a.a_id, b.b_id,
                 least(a.a_end, b.b_end) - greatest(a.a_start, b.b_start) AS overlap
          FROM a JOIN b ON a.user_id = b.user_id
          WHERE a.a_start <= b.b_end AND b.b_start <= a.a_end)
    SELECT user_id,
           COUNT(*) AS n_pairs,
           CAST(SUM(overlap) AS BIGINT) AS total_overlap_s,
           CAST(MAX(overlap) AS BIGINT) AS max_overlap_s,
           MIN(a_id) AS sample_click
    FROM p GROUP BY user_id
    """,
    description="interval-overlap join (click 10-min windows x purchase 15-min "
    "windows per user — the attribution-window op): grid blocking replicates "
    "each interval to its 1024s cells, plain hash equi-join on (user, cell), "
    "exact overlap predicate + distinct — NO inequality join, no cartesian; "
    "the oracle is the quadratic same-user join DuckDB can afford at test scale",
    tags=("join", "interval", "events"),
)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.asof import interval_overlap_join

    e = events_table(spark, sf_dir)
    a = e.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("a_id"),
        F.col("ep").alias("a_start"),
        (F.col("ep") + 600).alias("a_end"),
    )
    b = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("b_id"),
        F.col("ep").alias("b_start"),
        (F.col("ep") + 900).alias("b_end"),
    )
    pairs = interval_overlap_join(
        a, b, ["user_id"], "a_start", "a_end", "b_start", "b_end", bucket=1024
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("overlap").cast("bigint").alias("total_overlap_s"),
        F.max("overlap").cast("bigint").alias("max_overlap_s"),
        F.min("a_id").alias("sample_click"),
    )


@register(
    "q_ohlc_bars",
    oracle=f"""
    WITH e AS (SELECT event_id, event_type, value, {_EPOCH_DUCK} AS ep FROM events),
    b AS (SELECT event_type, CAST(ep // 3600 AS BIGINT) AS bar, ep, event_id, value FROM e),
    r AS (SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY event_type, bar
                                    ORDER BY ep, event_id) AS ra,
                 ROW_NUMBER() OVER (PARTITION BY event_type, bar
                                    ORDER BY ep DESC, event_id DESC) AS rd
          FROM b)
    SELECT event_type, bar,
           MAX(CASE WHEN ra = 1 THEN value END) AS open,
           MAX(value) AS high, MIN(value) AS low,
           MAX(CASE WHEN rd = 1 THEN value END) AS close,
           COUNT(*) AS n_events
    FROM r GROUP BY event_type, bar
    """,
    description="OHLC time-series resampling (hourly bars per event type — the "
    "financial/metrics downsampling classic): open/close by deterministic "
    "(ep, event_id) order, high/low as exact selections (no float arithmetic "
    "at all — every output is a passthrough of an input double); one window "
    "pass + one aggregation over the same partitioning (exchange reused)",
    tags=("window", "agg", "events", "timeseries"),
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    b = e.select(
        "event_type",
        F.expr("ep div 3600").cast("bigint").alias("bar"),
        "ep", "event_id", "value",
    )
    wa = Window.partitionBy("event_type", "bar").orderBy("ep", "event_id")
    wd = Window.partitionBy("event_type", "bar").orderBy(
        F.desc("ep"), F.desc("event_id")
    )
    r = b.withColumn("ra", F.row_number().over(wa)).withColumn(
        "rd", F.row_number().over(wd)
    )
    return r.groupBy("event_type", "bar").agg(
        F.max(F.when(F.col("ra") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rd") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


# Events numbered into per-user journeys (a journey ends at a purchase) and
# the converted (user_id, journey) keys.
_JOURNEYS_DUCK = f"""
    WITH e AS (
      SELECT event_id, user_id, event_type, {_EPOCH_DUCK} AS ep FROM events),
    j AS (
      SELECT *,
             COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ep, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS journey
      FROM e),
    conv AS (SELECT DISTINCT user_id, journey FROM j WHERE event_type = 'purchase'),
"""


def _journeys(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Events with their ``journey`` number (purchases before them, per user)
    and the distinct converted ``(user_id, journey)`` keys."""
    e = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    prior = w.rowsBetween(Window.unboundedPreceding, -1)
    j = e.withColumn(
        "journey",
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(prior),
            F.lit(0),
        ).cast("bigint"),
    )
    conv = (
        j.where(F.col("event_type") == "purchase")
        .select("user_id", "journey")
        .distinct()
    )
    return j, conv


@register(
    "q_attribution",
    oracle=_JOURNEYS_DUCK + """
    t AS (
      SELECT j.user_id, j.journey, j.event_type, j.ep, j.event_id
      FROM j JOIN conv ON j.user_id = conv.user_id AND j.journey = conv.journey
      WHERE j.event_type IN ('click', 'view', 'signup')),
    r AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, journey ORDER BY ep, event_id) AS rn,
             ROW_NUMBER() OVER (PARTITION BY user_id, journey ORDER BY ep DESC, event_id DESC) AS rd,
             COUNT(*) OVER (PARTITION BY user_id, journey) AS n_j
      FROM t)
    SELECT event_type AS channel,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch,
           CAST(SUM(CASE WHEN rd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch,
           CAST(SUM(1000000 // n_j) AS BIGINT) AS linear_micro,
           COUNT(*) AS n_touches
    FROM r GROUP BY event_type ORDER BY channel
    """,
    description="multi-touch attribution composite (first-touch / last-touch "
    "/ linear): journeys segmented per user by conversion boundaries (count "
    "of prior purchases — one running-window pass), touches joined to "
    "converted journeys, then ONE channel rollup computes all three models "
    "via conditional sums; linear credit is scaled-integer (1e6 div n, both "
    "engines' exact integer division) so distributed summation cannot drift; "
    "one user-keyed shuffle for every window, one tiny channel aggregation",
    tags=("events", "window", "agg", "attribution"),
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    j, conv = _journeys(spark, sf_dir)
    touches = j.where(F.col("event_type").isin("click", "view", "signup")).join(
        conv, ["user_id", "journey"]
    )
    wj = Window.partitionBy("user_id", "journey")
    r = touches.select(
        "event_type",
        F.row_number().over(wj.orderBy("ep", "event_id")).alias("rn"),
        F.row_number().over(wj.orderBy(F.desc("ep"), F.desc("event_id"))).alias("rd"),
        F.count(F.lit(1)).over(wj).alias("n_j"),
    )
    return (
        r.groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("bigint").alias("first_touch"),
            F.sum(F.when(F.col("rd") == 1, 1).otherwise(0)).cast("bigint").alias("last_touch"),
            F.sum(F.expr("1000000 div n_j")).cast("bigint").alias("linear_micro"),
            F.count(F.lit(1)).alias("n_touches"),
        )
        .orderBy("channel")
    )


@register(
    "q_conversion_paths",
    oracle=_JOURNEYS_DUCK + """
    paths AS (
      SELECT j.user_id, j.journey,
             string_agg(j.event_type, '>' ORDER BY j.ep, j.event_id) AS path
      FROM j JOIN conv ON j.user_id = conv.user_id AND j.journey = conv.journey
      WHERE j.event_type IN ('click', 'view', 'signup')
      GROUP BY j.user_id, j.journey)
    SELECT path, COUNT(*) AS n_journeys
    FROM paths GROUP BY path
    ORDER BY n_journeys DESC, path LIMIT 20
    """,
    description="conversion path analysis: the ordered channel sequence of "
    "every converted journey (same journey segmentation as q_attribution), "
    "rolled up to the top-20 most frequent paths — ordered aggregation via "
    "sort_array(collect_list(struct)) so the path string is "
    "partitioning-invariant; top-k plans as TakeOrderedAndProject",
    tags=("events", "window", "agg", "attribution"),
)
def q_conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    j, conv = _journeys(spark, sf_dir)
    paths = (
        j.where(F.col("event_type").isin("click", "view", "signup"))
        .join(conv, ["user_id", "journey"])
        .groupBy("user_id", "journey")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ep", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_journeys"))
        .orderBy(F.desc("n_journeys"), "path")
        .limit(20)
    )


@register(
    "q_seasonal_naive",
    oracle=f"""
    WITH e AS (SELECT event_type, value, {_EPOCH_DUCK} AS ep FROM events),
    hourly AS (
      SELECT event_type, (ep // 3600) * 3600 AS h,
             SUM(CAST(value AS DECIMAL(18,6))) AS actual
      FROM e GROUP BY event_type, (ep // 3600) * 3600),
    scored AS (
      SELECT a.event_type,
             CAST(a.actual AS DOUBLE) AS actual,
             CAST(f.actual AS DOUBLE) AS forecast
      FROM hourly a JOIN hourly f
        ON a.event_type = f.event_type AND f.h = a.h - 86400)
    SELECT event_type, COUNT(*) AS n_scored,
           CAST(SUM(CAST(abs(actual - forecast) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mae
    FROM scored GROUP BY event_type ORDER BY event_type
    """,
    description="seasonal-naive forecast backtest (daily season over hourly "
    "buckets): forecast(t) = actual(t - 24h) via a self-join of the tiny "
    "aggregated bucket frame — never a window over raw events; hourly sums "
    "and the MAE numerator ride exact decimals, the mean is one IEEE "
    "division; the baseline every real forecaster must beat, as a "
    "deterministic relational query",
    tags=("events", "timeseries", "agg"),
)
def q_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    hourly = (
        e.groupBy(
            "event_type", (F.expr("ep div 3600") * 3600).cast("bigint").alias("h")
        )
        .agg(F.sum(dec6("value")).alias("actual"))
    )
    a = hourly.select("event_type", "h", F.col("actual").cast("double").alias("actual"))
    f = hourly.select(
        F.col("event_type").alias("f_type"),
        (F.col("h") + 86400).cast("bigint").alias("f_h"),
        F.col("actual").cast("double").alias("forecast"),
    )
    scored = a.join(
        f, (F.col("event_type") == F.col("f_type")) & (F.col("h") == F.col("f_h"))
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            (
                F.sum(F.abs(F.col("actual") - F.col("forecast")).cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mae"),
        )
        .orderBy("event_type")
    )


@register(
    "q_moving_median",
    oracle=f"""
    WITH e AS (SELECT event_id, event_type, value, {_EPOCH_DUCK} AS ep FROM events)
    SELECT event_id, event_type, ep,
           ROUND(median(value) OVER (PARTITION BY event_type ORDER BY ep
                                     RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW), 6)
               AS med_30m
    FROM e
    """,
    description="moving median over a 30-minute time-RANGE frame per event "
    "type (robust rolling statistic — the moving average's outlier-immune "
    "sibling): Spark has no native windowed median, so the frame is "
    "collect_list + array_sort + rank-pick (odd) / midpoint (even), all "
    "Catalyst; ROUND(6) absorbs the one last-ulp hazard (two engines' "
    "midpoint formulas); frame sets are identical because RANGE bounds are "
    "on the same integer epoch column",
    tags=("events", "window", "timeseries"),
)
def q_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ep").rangeBetween(-1800, 0)
    vals = F.array_sort(F.collect_list("value").over(w))
    n = F.size(vals)
    odd = F.element_at(vals, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(vals, (n / 2).cast("int"))
        + F.element_at(vals, (n / 2 + 1).cast("int"))
    ) / 2
    med = F.when(n % 2 == 1, odd).otherwise(even)
    return e.select(
        "event_id", "event_type", "ep", F.round(med, 6).alias("med_30m")
    )


@register(
    "q_linear_interpolate",
    oracle=f"""
    WITH e AS (SELECT event_type, value, {_EPOCH_DUCK} AS ep FROM events),
    hourly AS (
      SELECT event_type, (ep // 3600) * 3600 AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
      FROM e GROUP BY event_type, (ep // 3600) * 3600),
    bounds AS (SELECT event_type, MIN(h) AS mn, MAX(h) AS mx FROM hourly GROUP BY event_type),
    grid AS (SELECT event_type, unnest(range(mn, mx + 1, 3600)) AS h FROM bounds),
    g AS (
      SELECT grid.event_type, grid.h, hourly.v
      FROM grid LEFT JOIN hourly USING (event_type, h)),
    ctx AS (
      SELECT event_type, h, v,
             last_value(v IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wp AS ph,
             first_value(v IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wn AS nh
      FROM g
      WINDOW wp AS (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_type, h,
           CASE WHEN v IS NOT NULL THEN ROUND(v, 6)
                WHEN pv IS NOT NULL AND nv IS NOT NULL
                THEN ROUND(pv + (nv - pv) * (h - ph) / (nh - ph), 6)
                ELSE NULL END AS value_filled,
           CASE WHEN v IS NOT NULL THEN 'actual'
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
                ELSE 'edge' END AS src
    FROM ctx
    """,
    description="time-series resampling with LINEAR interpolation: hourly "
    "grid per type (sequence explode — no driver loop), present buckets "
    "keep their exact decimal sums, gaps fill with v0+(v1-v0)*(t-t0)/"
    "(t1-t0) from IGNORE-NULLS bracketing windows (the interpolating "
    "sibling of q_locf_fill's step fill); identical operation order both "
    "engines + ROUND(6); edges stay NULL (no extrapolation)",
    tags=("events", "timeseries", "window"),
)
def q_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    hourly = e.groupBy(
        "event_type", (F.expr("ep div 3600") * 3600).cast("bigint").alias("h")
    ).agg(F.sum(dec6("value")).cast("double").alias("v"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    grid = bounds.select(
        "event_type", F.explode(F.sequence("mn", "mx", F.lit(3600))).alias("h")
    )
    g = grid.join(hourly, ["event_type", "h"], "left_outer")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    marked = F.when(F.col("v").isNotNull(), F.col("h"))
    ctx = g.select(
        "event_type",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(marked, ignorenulls=True).over(wp).alias("ph"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(marked, ignorenulls=True).over(wn).alias("nh"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (F.col("h") - F.col("ph")) / (
        F.col("nh") - F.col("ph")
    )
    return ctx.select(
        "event_type",
        "h",
        F.when(F.col("v").isNotNull(), F.round(F.col("v"), 6))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), F.round(interp, 6))
        .alias("value_filled"),
        F.when(F.col("v").isNotNull(), "actual")
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), "interp")
        .otherwise("edge")
        .alias("src"),
    )


_CUPED_CUT = 1705276800  # 2024-01-15 00:00 UTC: pre/post period boundary


@register(
    "q_cuped",
    oracle=f"""
    WITH e AS (SELECT user_id, value, event_type, {_EPOCH_DUCK} AS ep FROM events),
    per_user AS (
      SELECT user_id, user_id % 2 AS variant,
             CAST(COALESCE(SUM(CASE WHEN ep < {_CUPED_CUT} THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS x,
             CAST(COALESCE(SUM(CASE WHEN ep >= {_CUPED_CUT} THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS y
      FROM e GROUP BY user_id),
    moments AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy
      FROM per_user),
    theta AS (
      SELECT n, sx / n AS mean_x,
             (sxy - sx * sy / n) / (sxx - sx * sx / n) AS th
      FROM moments)
    SELECT variant, COUNT(*) AS n_users,
           ROUND(CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS mean_y,
           ROUND(CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
                 - t.th * (CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) - t.mean_x), 6)
               AS mean_y_cuped
    FROM per_user CROSS JOIN theta t
    GROUP BY variant, t.th, t.mean_x
    ORDER BY variant
    """,
    description="CUPED variance reduction (Deng et al., WSDM 2013 — the "
    "standard experimentation adjustment): theta = cov(x,y)/var(x) from "
    "pre-period covariates, adjusted variant means = mean_y - "
    "theta*(mean_x_v - mean_x) — everything derives from DECIMAL power "
    "sums (one scan builds x/y per user, one tiny moments row broadcast), "
    "so no per-row adjustment pass and no float accumulation; identical "
    "operation order both engines + ROUND(6)",
    tags=("events", "agg", "experiment"),
)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    dec = lambda c: F.col(c).cast("decimal(28,6)")  # noqa: E731
    per_user = e.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("ep") < _CUPED_CUT, dec6("value"))), F.lit(0)
        ).cast("double").alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("ep") >= _CUPED_CUT, dec6("value"))), F.lit(0)
        ).cast("double").alias("y"),
    ).withColumn("variant", (F.col("user_id") % 2).cast("bigint"))
    moments = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("x")).cast("double").alias("sx"),
        F.sum(dec("y")).cast("double").alias("sy"),
        # products in DOUBLE then decimal-cast for the order-free sum:
        # decimal(28,6)^2 exceeds precision 38 and engines reduce scale
        # differently (the q_zipf_fit finding)
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,6)")).cast("double").alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,6)")).cast("double").alias("sxy"),
    )
    theta = moments.select(
        (F.col("sx") / F.col("n")).alias("mean_x"),
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        ).alias("th"),
    )
    return (
        per_user.crossJoin(F.broadcast(theta))
        .groupBy("variant", "th", "mean_x")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.sum(dec("y")).cast("double") / F.count(F.lit(1)), 6).alias("mean_y"),
            F.round(
                F.sum(dec("y")).cast("double") / F.count(F.lit(1))
                - F.col("th")
                * (F.sum(dec("x")).cast("double") / F.count(F.lit(1)) - F.col("mean_x")),
                6,
            ).alias("mean_y_cuped"),
        )
        .select("variant", "n_users", "mean_y", "mean_y_cuped")
        .orderBy("variant")
    )


@register(
    "q_ab_ztest",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, value FROM events),
    per_user AS (
      SELECT user_id, user_id % 2 AS variant,
             MAX(CASE WHEN event_type = 'purchase' AND value >= 190.0 THEN 1 ELSE 0 END) AS converted
      FROM e GROUP BY user_id),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS c_a,
        CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS c_b
      FROM per_user)
    SELECT n_a, n_b, c_a, c_b,
           ROUND((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                 / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score
    FROM agg
    """,
    description="two-proportion z-test (pooled) for an A/B conversion "
    "split: integer tallies in one aggregation, the statistic is a fixed "
    "chain of IEEE divisions + one correctly-rounded sqrt — deterministic "
    "without libm-CDF scaffolding (the p-value needs erf, which is NOT "
    "engine-portable; consumers threshold on |z| instead, e.g. 1.96)",
    tags=("events", "agg", "experiment"),
)
def q_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    # conversion = a HIGH-VALUE purchase: every synthetic user purchases
    # eventually, which would make p_pool = 1 and the pooled sd exactly 0
    per_user = e.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "purchase") & (F.col("value") >= 190.0), 1).otherwise(0)
        ).alias("converted")
    ).withColumn("variant", F.col("user_id") % 2)
    agg = per_user.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0)).cast("bigint").alias("c_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0)).cast("bigint").alias("c_b"),
    )
    p_pool = (F.col("c_a") + F.col("c_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    z = (
        F.col("c_a").cast("double") / F.col("n_a")
        - F.col("c_b").cast("double") / F.col("n_b")
    ) / F.sqrt(
        p_pool * (F.lit(1.0) - p_pool)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return agg.select("n_a", "n_b", "c_a", "c_b", F.round(z, 6).alias("z_score"))


@register(
    "q_cusum_changepoint",
    oracle=f"""
    WITH e AS (SELECT event_type, value, {_EPOCH_DUCK} AS ep FROM events),
    hourly AS (
      SELECT event_type, (ep // 3600) * 3600 AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
      FROM e GROUP BY event_type, (ep // 3600) * 3600),
    base AS (
      SELECT event_type,
             CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mu
      FROM hourly GROUP BY event_type),
    p AS (
      SELECT h.event_type, h.h,
             SUM(h.v - b.mu) OVER (PARTITION BY h.event_type ORDER BY h.h
                                   ROWS UNBOUNDED PRECEDING) AS pf
      FROM hourly h JOIN base b ON h.event_type = b.event_type),
    sline AS (
      SELECT event_type, h,
             pf - LEAST(0.0, MIN(pf) OVER (PARTITION BY event_type ORDER BY h
                                           ROWS UNBOUNDED PRECEDING)) AS s
      FROM p)
    SELECT event_type, COUNT(*) AS n_points,
           ROUND(MAX(struct_pack(s := s, nh := -h)).s, 6) AS max_cusum,
           CAST(-MAX(struct_pack(s := s, nh := -h)).nh AS BIGINT) AS changepoint_h
    FROM sline GROUP BY event_type ORDER BY event_type
    """,
    description="CUSUM mean-shift change-point detection (Page 1954) via "
    "the prefix-sum identity S_k = P_k - min(0, min_j<=k P_j) — the "
    "clamped recursion becomes two running windows (prefix sum + running "
    "min), fully relational and bit-reproducible (both engines accumulate "
    "window sums left-to-right over the same (type, hour) order); peak "
    "statistic + its hour via a struct max with a -h tiebreak (first hour "
    "attaining the max). The fold formulation was abandoned: DuckDB's "
    "list_reduce mutates the accumulator struct FIELD-BY-FIELD, so later "
    "field expressions read already-updated values — a cross-engine "
    "divergence by construction",
    tags=("events", "timeseries", "window"),
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    hourly = e.groupBy(
        "event_type", (F.expr("ep div 3600") * 3600).cast("bigint").alias("h")
    ).agg(F.sum(dec6("value")).cast("double").alias("v"))
    base = hourly.groupBy("event_type").agg(
        (F.sum(F.col("v").cast("decimal(28,6)")).cast("double") / F.count(F.lit(1))).alias("mu")
    )
    run = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = (
        hourly.join(F.broadcast(base), "event_type")
        .select("event_type", "h", (F.col("v") - F.col("mu")).alias("raw"))
        .withColumn("pf", F.sum("raw").over(run))
    )
    sline = p.withColumn(
        "s", F.col("pf") - F.least(F.lit(0.0), F.min("pf").over(run))
    )
    peak = F.max(F.struct(F.col("s"), (-F.col("h")).alias("nh")))
    return (
        sline.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(peak["s"], 6).alias("max_cusum"),
            (-peak["nh"]).cast("bigint").alias("changepoint_h"),
        )
        .orderBy("event_type")
    )


# Survival subjects: per user, the first event t0, the first purchase of
# value >= 190 (t_conv, the event) and the last event (t_last, censoring).
_SURVIVAL_USERS_DUCK = f"""
    WITH e AS (SELECT user_id, event_type, value, {_EPOCH_DUCK} AS ep FROM events),
    per_user AS (
      SELECT user_id,
             MIN(ep) AS t0,
             MIN(CASE WHEN event_type = 'purchase' AND value >= 190.0 THEN ep END) AS t_conv,
             MAX(ep) AS t_last
      FROM e GROUP BY user_id),
"""

# Each subject's duration and event flag, and the event times with their
# event counts d.
_SURVIVAL_TIMES_DUCK = _SURVIVAL_USERS_DUCK + """
    subjects AS (
      SELECT user_id,
             CASE WHEN t_conv IS NOT NULL THEN t_conv - t0 ELSE t_last - t0 END AS dur,
             CASE WHEN t_conv IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per_user),
    times AS (
      SELECT dur AS t, CAST(SUM(ev) AS BIGINT) AS d
      FROM subjects GROUP BY dur HAVING SUM(ev) > 0),
"""


def _survival_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per ``user_id``: first event ``t0``, first purchase of value >= 190
    ``t_conv`` (null if none) and last event ``t_last``."""
    e = events_table(spark, sf_dir)
    return e.groupBy("user_id").agg(
        F.min("ep").alias("t0"),
        F.min(
            F.when((F.col("event_type") == "purchase") & (F.col("value") >= 190.0), F.col("ep"))
        ).alias("t_conv"),
        F.max("ep").alias("t_last"),
    )


def _duration_and_event() -> list[Column]:
    """``dur``, time to conversion or to censoring at the last event, and
    ``ev``, 1 if the user converted."""
    return [
        F.when(F.col("t_conv").isNotNull(), F.col("t_conv") - F.col("t0"))
        .otherwise(F.col("t_last") - F.col("t0"))
        .alias("dur"),
        F.when(F.col("t_conv").isNotNull(), 1).otherwise(0).alias("ev"),
    ]


@register(
    "q_kaplan_meier",
    oracle=_SURVIVAL_TIMES_DUCK + f"""
    risk AS (
      SELECT t, d,
             (SELECT COUNT(*) FROM subjects s WHERE s.dur >= times.t) AS n
      FROM times),
    terms AS (
      SELECT t, d, CAST(n AS BIGINT) AS at_risk,
             {duck_portable_ln_ratio("n - d", "n")} AS log_term
      FROM risk WHERE n > d),
    curve AS (
      SELECT t, d, at_risk,
             SUM(log_term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cum_log_s
      FROM terms)
    SELECT CAST(t AS BIGINT) AS duration_s, at_risk, d AS n_events,
           ROUND(cum_log_s, 6) AS log_survival
    FROM curve ORDER BY duration_s
    """,
    description="Kaplan-Meier survival estimator (1958) for "
    "time-to-first-high-value-purchase with right censoring at last "
    "activity: at each event time, log S(t) += ln((n-d)/n) through the "
    "engine-portable ratio log (INTEGER at-risk/event counts in, "
    "bit-stable ln out — no libm, and emitting LOG-survival avoids the "
    "non-portable exp); the at-risk counts come from one risk-set "
    "range-join (event-time table is tiny — broadcast), the curve is one "
    "ordered prefix sum",
    tags=("events", "timeseries", "survival"),
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.functions.portable_math import portable_ln_ratio

    subjects = _survival_users(spark, sf_dir).select(
        *_duration_and_event()
    ).localCheckpoint()  # feeds event times AND risk counts
    times = (
        subjects.groupBy(F.col("dur").alias("t"))
        .agg(F.sum("ev").cast("bigint").alias("d"))
        .where(F.col("d") > 0)
    )
    risk = (
        subjects.crossJoin(F.broadcast(times))  # event-time table is tiny
        .where(F.col("dur") >= F.col("t"))
        .groupBy("t", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .where(F.col("n") > F.col("d"))
    )
    terms = risk.select(
        "t",
        "d",
        F.col("n").alias("at_risk"),
        portable_ln_ratio(F.col("n") - F.col("d"), F.col("n")).alias("log_term"),
    )
    run = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        terms.withColumn("cum_log_s", F.sum("log_term").over(run))
        .select(
            F.col("t").cast("bigint").alias("duration_s"),
            "at_risk",
            F.col("d").alias("n_events"),
            F.round("cum_log_s", 6).alias("log_survival"),
        )
        .orderBy("duration_s")
    )


@register(
    "q_rolling_zscore",
    oracle=f"""
    WITH e AS (SELECT event_type, value, {_EPOCH_DUCK} AS ep FROM events),
    hourly AS (
      SELECT event_type, (ep // 3600) * 3600 AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
      FROM e GROUP BY event_type, (ep // 3600) * 3600),
    win AS (
      SELECT event_type, h, v,
             CAST(SUM(CAST(v AS DECIMAL(28,6))) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST(v * v AS DECIMAL(28,6))) OVER w AS DOUBLE) AS s2,
             COUNT(*) OVER w AS n
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT event_type, h, ROUND(v, 6) AS v,
           CASE WHEN n >= 6 AND s2 / n - (s1 / n) * (s1 / n) > 0.0
                THEN ROUND((v - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6)
                ELSE NULL END AS zscore
    FROM win
    """,
    description="rolling z-score anomaly detection: each hour scored "
    "against the TRAILING 24-hour window's mean/std (frame excludes the "
    "current row — no self-masking), variance from DECIMAL frame power "
    "sums so window accumulation order is free, then a fixed IEEE chain + "
    "sqrt + ROUND(6); warm-up (<6 points) and zero-variance windows emit "
    "NULL honestly",
    tags=("events", "timeseries", "window", "anomaly"),
)
def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    hourly = e.groupBy(
        "event_type", (F.expr("ep div 3600") * 3600).cast("bigint").alias("h")
    ).agg(F.sum(dec6("value")).cast("double").alias("v"))
    w = (
        Window.partitionBy("event_type").orderBy("h").rowsBetween(-24, -1)
    )
    dec = F.col("v").cast("decimal(28,6)")
    win = hourly.select(
        "event_type",
        "h",
        "v",
        F.sum(dec).over(w).cast("double").alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(28,6)")).over(w).cast("double").alias("s2"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    z = (F.col("v") - mean) / F.sqrt(var)
    return win.select(
        "event_type",
        "h",
        F.round("v", 6).alias("v"),
        F.when((F.col("n") >= 6) & (var > 0.0), F.round(z, 6)).alias("zscore"),
    )


@register(
    "q_cohort_ltv",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, value,
                      CAST({_EPOCH_DUCK} // 86400 AS BIGINT) AS day FROM events),
    f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id),
    rev AS (
      SELECT e.user_id, f.cohort_day, e.day - f.cohort_day AS age,
             CAST(e.value AS DECIMAL(18,6)) AS v
      FROM e JOIN f USING (user_id) WHERE e.event_type = 'purchase'),
    daily AS (
      SELECT cohort_day, age, SUM(v) AS rev_day
      FROM rev GROUP BY cohort_day, age),
    sizes AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM f GROUP BY cohort_day)
    SELECT d.cohort_day, d.age, s.cohort_size,
           CAST(SUM(d.rev_day) OVER (PARTITION BY d.cohort_day ORDER BY d.age
                                     ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               AS cum_revenue,
           ROUND(CAST(SUM(d.rev_day) OVER (PARTITION BY d.cohort_day ORDER BY d.age
                                           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / s.cohort_size, 6) AS ltv_per_user
    FROM daily d JOIN sizes s USING (cohort_day)
    """,
    description="cohort LTV curves (cumulative purchase revenue per "
    "cohort-age, per capita): the retention matrix's revenue sibling — "
    "decimal daily sums, a DECIMAL running window (so the cumulative "
    "revenue is order-free), one IEEE per-capita division; cohort sizes "
    "broadcast",
    tags=("agg", "events", "cohort", "window"),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir).withColumn(
        "day", F.expr("ep div 86400").cast("bigint")
    )
    f = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    rev = (
        e.where(F.col("event_type") == "purchase")
        .join(f, "user_id")
        .select("cohort_day", (F.col("day") - F.col("cohort_day")).alias("age"), dec6("value").alias("v"))
    )
    daily = rev.groupBy("cohort_day", "age").agg(F.sum("v").alias("rev_day"))
    sizes = f.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("cohort_size"))
    run = (
        Window.partitionBy("cohort_day")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        daily.join(F.broadcast(sizes), "cohort_day")
        .withColumn("cum_revenue", F.sum("rev_day").over(run).cast("double"))
        .select(
            "cohort_day",
            "age",
            "cohort_size",
            "cum_revenue",
            F.round(F.col("cum_revenue") / F.col("cohort_size"), 6).alias("ltv_per_user"),
        )
    )


# --- Markov transition matrix (session-based next-event model) -------------

# Consecutive per-user event-type pairs: c_ab per (prev_type, next_type) and
# c_a per prev_type.
_TRANSITIONS_DUCK = f"""
    WITH e AS (SELECT user_id, event_id, event_type, {_EPOCH_DUCK} AS ep FROM events),
    p AS (SELECT event_type AS prev_type,
                 LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ep, event_id)
                     AS next_type
          FROM e),
    c AS (SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS c_ab
          FROM p WHERE next_type IS NOT NULL GROUP BY prev_type, next_type),
    t AS (SELECT prev_type, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM c GROUP BY prev_type)"""


def _transition_counts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Per-user consecutive event-type pairs: ``c_ab`` per
    ``(prev_type, next_type)`` and ``c_a`` per ``prev_type``."""
    e = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    p = e.select(
        F.col("event_type").alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    )
    c = (
        p.where(F.col("next_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
    )
    t = c.groupBy("prev_type").agg(F.sum("c_ab").cast("bigint").alias("c_a"))
    return c, t


@register(
    "q_markov_transitions",
    oracle=_TRANSITIONS_DUCK + """
    SELECT c.prev_type, c.next_type, c.c_ab, t.c_a,
           CAST((1000000 * c.c_ab) // t.c_a AS BIGINT) AS p_micro
    FROM c JOIN t USING (prev_type)
    ORDER BY prev_type, next_type
    """,
    description="first-order Markov transition matrix over per-user event "
    "sequences (the next-event / session-based recommendation model): "
    "consecutive (prev, next) pairs from one user-keyed window, transition "
    "probability as exact integer micro-units (1e6*c_ab div c_a — no float "
    "division crosses the engine boundary). One window shuffle + two tiny "
    "aggregations; the conditional-total join broadcasts (|event types|^2 "
    "matrix) at any corpus size",
    tags=("events", "sequence", "markov", "ml-prep"),
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, t = _transition_counts(spark, sf_dir)
    return (
        c.join(F.broadcast(t), "prev_type")
        .select(
            "prev_type", "next_type", "c_ab", "c_a",
            F.expr("CAST((1000000 * c_ab) div c_a AS BIGINT)").alias("p_micro"),
        )
        .orderBy("prev_type", "next_type")
    )


# --- Brown's double exponential smoothing (trend-aware forecast) -----------

@register(
    "q_double_exp_smoothing",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, value, {_EPOCH_DUCK} AS ep FROM events),
    l1 AS (SELECT event_id, user_id,
                  list(value) OVER (PARTITION BY user_id ORDER BY ep, event_id
                                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vs
           FROM e),
    s1 AS (SELECT event_id, user_id,
                  list_reduce(vs, (acc, x) -> acc * 0.8 + x * 0.2) AS s1
           FROM l1),
    l2 AS (SELECT event_id, user_id, s1,
                  list(s1) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS ss
           FROM s1),
    s2 AS (SELECT event_id, user_id, s1,
                  list_reduce(ss, (acc, x) -> acc * 0.8 + x * 0.2) AS s2
           FROM l2)
    SELECT event_id, user_id,
           ROUND(2.0 * s1 - s2, 6) AS level,
           ROUND(0.25 * (s1 - s2), 6) AS trend,
           ROUND((2.0 * s1 - s2) + 0.25 * (s1 - s2), 6) AS forecast_1
    FROM s2
    """,
    description="Brown's double exponential smoothing (public textbook "
    "method): trend-aware one-step forecast as two chained EWMA folds — "
    "S1 = EWMA(x), S2 = EWMA(S1), level = 2*S1 - S2, trend = "
    "alpha/(1-alpha)*(S1-S2). Both folds are the q_ewma pattern: "
    "single-field sequential recurrences over identical doubles, "
    "bit-reproducible without decimal scaffolding (and immune to the "
    "documented DuckDB multi-field list_reduce mutation). Two user-keyed "
    "window passes over ONE shuffle partitioning — the second window "
    "reuses the first exchange",
    tags=("events", "timeseries", "forecast", "hof"),
)
def q_double_exp_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    alpha = 0.2
    w1 = (
        Window.partitionBy("user_id")
        .orderBy("ep", "event_id")
        .rowsBetween(-19, 0)
    )
    fold = lambda vs: F.aggregate(  # noqa: E731
        F.slice(vs, 2, F.size(vs) - 1),
        F.element_at(vs, 1),
        lambda acc, x: acc * F.lit(1 - alpha) + x * F.lit(alpha),
    )
    s1 = e.select(
        "event_id", "user_id",
        fold(F.collect_list("value").over(w1)).alias("s1"),
    )
    # the second smoothing pass orders by event_id alone: s1 is already a
    # deterministic per-row value, and (user_id, event_id) is unique, so
    # the fold order is identical on both engines
    w2 = (
        Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-19, 0)
    )
    s2 = s1.select(
        "event_id", "user_id", "s1",
        fold(F.collect_list("s1").over(w2)).alias("s2"),
    )
    level = F.lit(2.0) * F.col("s1") - F.col("s2")
    trend = F.lit(alpha / (1 - alpha)) * (F.col("s1") - F.col("s2"))
    return s2.select(
        "event_id", "user_id",
        F.round(level, 6).alias("level"),
        F.round(trend, 6).alias("trend"),
        F.round(level + trend, 6).alias("forecast_1"),
    )


# --- SAX: symbolic aggregate approximation of per-user series --------------

@register(
    "q_sax_symbols",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, value, {_EPOCH_DUCK} AS ep FROM events),
    st AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) AS sx,
                  CAST(SUM(CAST(value * value AS DECIMAL(28,12))) AS DOUBLE) AS sxx
           FROM e GROUP BY user_id),
    r AS (SELECT user_id, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ep, event_id) AS rn
          FROM e),
    seg AS (SELECT user_id, ((rn - 1) * 4) // n AS seg, value
            FROM r JOIN st USING (user_id)),
    paa AS (SELECT user_id, seg,
                   CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) AS psum,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM seg GROUP BY user_id, seg),
    z AS (SELECT p.user_id, p.seg, s.n,
                 CASE WHEN (s.sxx / s.n - (s.sx / s.n) * (s.sx / s.n)) <= 0 THEN NULL
                      ELSE ((p.psum / p.cnt) - s.sx / s.n)
                           / sqrt(s.sxx / s.n - (s.sx / s.n) * (s.sx / s.n)) END AS zv
          FROM paa p JOIN st s USING (user_id))
    SELECT user_id, CAST(MAX(n) AS BIGINT) AS n,
           string_agg(CASE WHEN zv IS NULL THEN '_'
                           WHEN zv < -0.6745 THEN 'a'
                           WHEN zv < 0.0 THEN 'b'
                           WHEN zv < 0.6745 THEN 'c'
                           ELSE 'd' END, '' ORDER BY seg) AS sax
    FROM z GROUP BY user_id
    ORDER BY user_id
    """,
    description="SAX (symbolic aggregate approximation, Lin/Keogh 2003 — "
    "public): per-user series z-normalized (population moments from DECIMAL "
    "power sums — order-free distributed summation; sqrt and the division "
    "chain are IEEE-exact on identical operands), PAA-compressed to 4 "
    "segments by pure integer index math, discretized on the standard "
    "4-symbol Gaussian breakpoints (+-0.6745 literals). The motif/anomaly "
    "indexing representation for massive time-series corpora: two "
    "user-keyed aggregations + one window, no per-point state",
    tags=("events", "timeseries", "sax", "ml-prep"),
)
def q_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    st = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(28,12)")).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,12)"))
        .cast("double")
        .alias("sxx"),
    )
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    r = e.select("user_id", "value", F.row_number().over(w).alias("rn"))
    seg = r.join(st, "user_id").select(
        "user_id", F.expr("((rn - 1) * 4) div n").alias("seg"), "value"
    )
    paa = seg.groupBy("user_id", "seg").agg(
        F.sum(F.col("value").cast("decimal(28,12)")).cast("double").alias("psum"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    mean = F.col("sx") / F.col("n")
    var = F.col("sxx") / F.col("n") - mean * mean
    zv = F.when(var <= 0, F.lit(None)).otherwise(
        ((F.col("psum") / F.col("cnt")) - mean) / F.sqrt(var)
    )
    sym = (
        F.when(F.col("zv").isNull(), "_")
        .when(F.col("zv") < -0.6745, "a")
        .when(F.col("zv") < 0.0, "b")
        .when(F.col("zv") < 0.6745, "c")
        .otherwise("d")
    )
    z = paa.join(st, "user_id").select("user_id", "seg", "n", zv.alias("zv"))
    return (
        z.select("user_id", "seg", "n", sym.alias("sym"))
        .groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seg", "sym"))),
                    lambda s: s.sym,
                ),
                "",
            ).alias("sax"),
        )
        .orderBy("user_id")
    )


# --- Mann-Whitney U (Wilcoxon rank-sum) two-sample test --------------------

# Shared final-expression text: the z statistic must be the SAME arithmetic
# chain on both engines (every operand an exact integer, so the double
# divisions / sqrt are correctly rounded on identical bits).
_MW_Z = (
    "ROUND(CAST(u2_a - n_a * n_b AS DOUBLE) / "
    "(2.0 * sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0) * "
    "(CAST(n + 1 AS DOUBLE) - CAST(tie AS DOUBLE) / "
    "(CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))), 6)"
)


# The two-sample tests' distinct-value frame: per (event_type, value), the
# row count and the count in cohort A (even user_id).
_TWO_SAMPLE_DUCK = """
    WITH base AS (
      SELECT event_type, value,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS in_a
      FROM events),
    g AS (
      SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(in_a) AS BIGINT) AS cnt_a
      FROM base GROUP BY event_type, value),
"""

# Mann-Whitney U per event type over the distinct-value frame: s holds n_a,
# n_b, twice U of cohort A (u2_a), n and the tie term.
_MW_U_DUCK = _TWO_SAMPLE_DUCK + """
    r AS (
      SELECT event_type, cnt, cnt_a,
             COALESCE(CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY value
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                           AS BIGINT), 0) AS cum
      FROM g),
    a AS (
      SELECT event_type,
             CAST(SUM(cnt_a * (2 * cum + cnt + 1)) AS BIGINT) AS two_ra,
             CAST(SUM(cnt_a) AS BIGINT) AS n_a,
             CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie
      FROM r GROUP BY event_type),
    s AS (
      SELECT event_type, n_a, n - n_a AS n_b,
             two_ra - n_a * (n_a + 1) AS u2_a, n, tie
      FROM a)"""

# The select-list tail of a CTE over g: cumulative and total counts per
# event type, overall and in cohort A (the two ECDFs as exact integers).
_CUM_COUNTS_DUCK = """
             CAST(SUM(cnt_a) OVER wc AS BIGINT) AS cum_a,
             CAST(SUM(cnt) OVER wc AS BIGINT) AS cum,
             CAST(SUM(cnt_a) OVER wf AS BIGINT) AS n_a,
             CAST(SUM(cnt) OVER wf AS BIGINT) AS n
      FROM g
      WINDOW wc AS (PARTITION BY event_type ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY event_type)),
"""


def _two_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, value): ``cnt`` rows, ``cnt_a`` of them in cohort A."""
    e = events_table(spark, sf_dir)
    base = e.select(
        "event_type", "value",
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("in_a"),
    )
    return base.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("in_a").cast("bigint").alias("cnt_a"),
    )


def _mw_u_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: n_a, n_b, twice cohort A's U (``u2_a``), n and the
    tie term, from midranks over the distinct-value frame."""
    g = _two_sample_counts(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = g.select(
        "event_type", "cnt", "cnt_a",
        F.coalesce(F.sum("cnt").over(w).cast("bigint"), F.lit(0)).alias("cum"),
    )
    a = r.groupBy("event_type").agg(
        F.sum(F.col("cnt_a") * (2 * F.col("cum") + F.col("cnt") + 1))
        .cast("bigint").alias("two_ra"),
        F.sum("cnt_a").cast("bigint").alias("n_a"),
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint").alias("tie"),
    )
    s = a.select(
        "event_type", "n_a", (F.col("n") - F.col("n_a")).alias("n_b"),
        (F.col("two_ra") - F.col("n_a") * (F.col("n_a") + 1)).alias("u2_a"),
        "n", "tie",
    )
    return s


def _cum_counts() -> list[Column]:
    """cum_a, cum, n_a, n: each event type's running and total counts over
    the distinct-value frame, overall and in cohort A."""
    wc = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = Window.partitionBy("event_type")
    return [
        F.sum("cnt_a").over(wc).cast("bigint").alias("cum_a"),
        F.sum("cnt").over(wc).cast("bigint").alias("cum"),
        F.sum("cnt_a").over(wf).cast("bigint").alias("n_a"),
        F.sum("cnt").over(wf).cast("bigint").alias("n"),
    ]


@register(
    "q_mann_whitney",
    oracle=_MW_U_DUCK + f"""
    SELECT event_type, n_a, n_b, CAST(u2_a AS BIGINT) AS u2_a,
           {_MW_Z} AS z
    FROM s ORDER BY event_type
    """,
    description="Mann-Whitney U / Wilcoxon rank-sum two-sample test per "
    "event type (cohort A = even user_id): midranks with tie handling as "
    "EXACT integers (2x the rank-sum of A is sum(cnt_a*(2*cum+cnt+1)) over "
    "the distinct-value frame), U from the rank-sum identity, z with the "
    "tie-corrected variance — the only floats are final divisions/sqrt on "
    "identical exact operands. SCALE: the ECDF window runs over the "
    "DISTINCT-VALUE frame (|group| x |distinct values|), not raw rows — "
    "a per-type shuffle carries one row per distinct value, and the raw "
    "scan aggregates map-side first",
    tags=("events", "stats", "experiment", "nonparametric"),
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _mw_u_stats(spark, sf_dir)
    return s.select(
        "event_type", "n_a", "n_b",
        F.col("u2_a").cast("bigint").alias("u2_a"),
        F.expr(_MW_Z).alias("z"),
    ).orderBy("event_type")


# --- SCD2 dimension history --------------------------------------------------


@register(
    "q_scd2_history",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, {_EPOCH_DUCK} AS ep
      FROM events WHERE user_id % 17 = 0),
    daily AS (
      SELECT user_id, ep // 86400 AS day,
             MAX({{'ep': ep, 'eid': event_id, 'et': event_type}}) AS last_ev,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM e GROUP BY user_id, ep // 86400),
    st AS (
      SELECT user_id, day, last_ev.et AS status, n_events FROM daily),
    flagged AS (
      SELECT user_id, day, status, n_events,
             CASE WHEN LAG(status) OVER w IS DISTINCT FROM status
                  THEN 1 ELSE 0 END AS chg
      FROM st WINDOW w AS (PARTITION BY user_id ORDER BY day)),
    runs AS (
      SELECT user_id, day, status, n_events,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged),
    hist AS (
      SELECT user_id, status, CAST(run_id AS BIGINT) AS run_id,
             CAST(MIN(day) AS BIGINT) AS valid_from_day,
             CAST(MAX(day) AS BIGINT) AS last_active_day,
             CAST(COUNT(*) AS BIGINT) AS n_active_days,
             CAST(SUM(n_events) AS BIGINT) AS n_events
      FROM runs GROUP BY user_id, status, run_id)
    SELECT user_id, status, valid_from_day,
           CAST(LEAD(valid_from_day) OVER (PARTITION BY user_id
                ORDER BY valid_from_day) - 1 AS BIGINT) AS valid_to_day,
           last_active_day, n_active_days, n_events
    FROM hist ORDER BY user_id, valid_from_day
    """,
    description="SCD type-2 dimension history (the warehouse "
    "slowly-changing-dimension build beside the SCD1 q_merge_upsert): "
    "per (user, day) the LAST event's type is the observed status "
    "(deterministic argmax via struct MAX over (ep, event_id)); "
    "consecutive observed days with the same status collapse into one "
    "validity interval via the lag-change-flag + running-sum run id; "
    "valid_to_day = next interval's valid_from - 1, NULL while current. "
    "Runs are over OBSERVED days (a status surviving a gap stays one "
    "interval — change-detection semantics). SCALE: one (user, day) "
    "rollup + per-user windows — all partitioned by the dimension key, "
    "no global order anywhere; user subset %17 bounds the fixture output",
    tags=("events", "warehouse", "scd", "window"),
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir).where(F.col("user_id") % 17 == 0)
    daily = (
        e.groupBy("user_id", F.expr("ep div 86400").alias("day"))
        .agg(
            F.max(F.struct("ep", "event_id", "event_type")).alias("last_ev"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(
            "user_id", "day",
            F.col("last_ev.event_type").alias("status"), "n_events",
        )
    )
    w = Window.partitionBy("user_id").orderBy("day")
    flagged = daily.withColumn(
        "chg",
        F.when(
            ~F.lag("status").over(w).eqNullSafe(F.col("status")), 1
        ).otherwise(0),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    hist = runs.groupBy("user_id", "status", F.col("run_id").cast("bigint").alias("run_id")).agg(
        F.min("day").cast("bigint").alias("valid_from_day"),
        F.max("day").cast("bigint").alias("last_active_day"),
        F.count(F.lit(1)).cast("bigint").alias("n_active_days"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )
    w_iv = Window.partitionBy("user_id").orderBy("valid_from_day")
    return (
        hist.select(
            "user_id", "status", "valid_from_day",
            (F.lead("valid_from_day").over(w_iv) - 1)
            .cast("bigint").alias("valid_to_day"),
            "last_active_day", "n_active_days", "n_events",
        )
        .orderBy("user_id", "valid_from_day")
    )


# --- Kruskal-Wallis H (k-sample rank test) ----------------------------------

# shared IEEE tails evaluated from identical exact operands on both engines
# H = 12/(n(n+1)) * SUM_g R_g^2/n_g - 3(n+1); the fold's s already carries
# the /4 from R_g = two_rg/2
_KW_RAW = (
    "(12.0 * CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))"
    " - 3.0 * CAST(n + 1 AS DOUBLE))"
)
_KW_C = (
    "(1.0 - CAST(tie_sum AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    " * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))"
)
# Cross-group float sums fold in EXPLICIT event_type order on both engines
# (Spark F.aggregate over a sorted struct array; DuckDB list_reduce over an
# ORDER BY list) — the mirrored-float-order recipe. A plain SUM of the
# per-group double terms is distribution-order-dependent, and the
# round-to-DECIMAL workaround hit the cross-engine ROUND(double) tie
# divergence at sf0.01 (caught by the replica gate).


@register(
    "q_kruskal_wallis",
    oracle=f"""
    WITH gv AS (
      SELECT value AS v, event_type, CAST(COUNT(*) AS BIGINT) AS cg
      FROM events GROUP BY value, event_type),
    pv AS (
      SELECT v, CAST(SUM(cg) AS BIGINT) AS c FROM gv GROUP BY v),
    pc AS (
      SELECT v, c,
             COALESCE(CAST(SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                           PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum
      FROM pv),
    per_g AS (
      SELECT gv.event_type,
             CAST(SUM(gv.cg * (2 * pc.cum + pc.c + 1)) AS BIGINT) AS two_rg,
             CAST(SUM(gv.cg) AS BIGINT) AS n_g
      FROM gv JOIN pc ON gv.v = pc.v GROUP BY gv.event_type),
    tots AS (
      SELECT CAST(SUM(c * c * c - c) AS BIGINT) AS tie_sum,
             CAST(SUM(c) AS BIGINT) AS n
      FROM pv),
    sums AS (
      SELECT list_reduce(
               list_transform(
                 list({{'g': event_type, 'r': two_rg, 'm': n_g}}
                      ORDER BY event_type),
                 x -> CAST(x.r AS DOUBLE) * CAST(x.r AS DOUBLE)
                      / CAST(4 * x.m AS DOUBLE)),
               (a, b) -> a + b) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_groups
      FROM per_g)
    SELECT n, n_groups, tie_sum,
           ROUND({_KW_RAW}, 6) AS h,
           ROUND({_KW_RAW} / {_KW_C}, 6) AS h_tie_corrected
    FROM sums, tots
    """,
    description="Kruskal-Wallis H (one-way rank ANOVA across all 5 event "
    "types — the k-sample extension of the Mann-Whitney pair test): pooled "
    "midranks as EXACT integers over the distinct-VALUE rollup (2x the "
    "group rank-sum = sum cg*(2*cum+c+1), the midrank identity), tie "
    "correction 1 - sum(c^3-c)/(n^3-n) from the same frame; the cross-"
    "group sum of the R_g^2/n_g IEEE terms folds in EXPLICIT group order "
    "on both engines (F.aggregate / list_reduce — plain SUM of doubles "
    "is distribution-order-dependent). SCALE: the pooled cumulative "
    "window runs on the distinct-value frame — bounded by the 2-dp value "
    "DOMAIN (~56k points), never the corpus; quantize first for unbounded "
    "domains. One wordcount-shaped rollup + one value-keyed join back",
    tags=("events", "stats", "experiment", "nonparametric"),
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    gv = e.groupBy(F.col("value").alias("v"), "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("cg")
    )
    pv = gv.groupBy("v").agg(F.sum("cg").cast("bigint").alias("c"))
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    pc = pv.select(
        "v", "c",
        F.coalesce(F.sum("c").over(w_cum).cast("bigint"), F.lit(0)).alias("cum"),
    )
    per_g = (
        gv.join(pc, "v")
        .groupBy("event_type")
        .agg(
            F.sum(F.col("cg") * (2 * F.col("cum") + F.col("c") + 1))
            .cast("bigint").alias("two_rg"),
            F.sum("cg").cast("bigint").alias("n_g"),
        )
    )
    glob = pv.agg(
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("bigint").alias("tie_sum"),
        F.sum("c").cast("bigint").alias("n"),
    )
    sums = per_g.agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("event_type").alias("g"),
                        F.col("two_rg").alias("r"),
                        F.col("n_g").alias("m"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc
            + x["r"].cast("double") * x["r"].cast("double")
            / (4 * x["m"]).cast("double"),
        ).alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
    )
    return sums.crossJoin(F.broadcast(glob)).selectExpr(
        "n", "n_groups", "tie_sum",
        f"ROUND({_KW_RAW}, 6) AS h",
        f"ROUND({_KW_RAW} / {_KW_C}, 6) AS h_tie_corrected",
    )


# --- Friedman test (within-block rank test) ----------------------------------

# Shared rank kernel (the _lpa_oracle final-override pattern): daily micro
# totals per (day, event_type) cell, complete blocks only, doubled integer
# midranks within each block. Ends with `ranked`(day, event_type, r2) and
# `kk`(k). Used by q_friedman_test and q_page_trend.
_FRIEDMAN_RANK_CTES = f"""e AS (
      SELECT {_EPOCH_DUCK} AS ep, event_type, value FROM events),
    cell AS (
      SELECT ep // 86400 AS day, event_type,
             CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) * 1000000
                  AS BIGINT) AS s
      FROM e GROUP BY ep // 86400, event_type),
    kk AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM cell),
    complete AS (
      SELECT day FROM cell GROUP BY day
      HAVING COUNT(*) = (SELECT k FROM kk)),
    cc AS (SELECT cell.* FROM cell JOIN complete USING (day)),
    grp AS (
      SELECT day, s, CAST(COUNT(*) AS BIGINT) AS c FROM cc GROUP BY day, s),
    rk AS (
      SELECT day, s,
             2 * COALESCE(CAST(SUM(c) OVER (PARTITION BY day ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                 0) + c + 1 AS r2
      FROM grp),
    ranked AS (
      SELECT cc.day, cc.event_type, rk.r2
      FROM cc JOIN rk ON cc.day = rk.day AND cc.s = rk.s)"""


def _friedman_ranked(spark: SparkSession, sf_dir: str):
    """Spark twin of _FRIEDMAN_RANK_CTES: (ranked, kk, complete cells)."""
    e = events_table(spark, sf_dir)
    cell = e.groupBy(
        F.expr("ep div 86400").alias("day"), "event_type"
    ).agg(
        (F.sum(dec6(F.round("value", 6))) * 1000000).cast("bigint").alias("s")
    )
    kk = cell.agg(F.countDistinct("event_type").cast("bigint").alias("k"))
    complete = (
        cell.groupBy("day")
        .agg(F.count(F.lit(1)).alias("nt"))
        .crossJoin(F.broadcast(kk))
        .where(F.col("nt") == F.col("k"))
        .select("day")
    )
    cc = cell.join(complete, "day", "left_semi")
    grp = cc.groupBy("day", "s").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = (
        Window.partitionBy("day")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rk = grp.select(
        "day", "s",
        (
            2 * F.coalesce(F.sum("c").over(w).cast("bigint"), F.lit(0))
            + F.col("c") + 1
        ).alias("r2"),
    )
    ranked = cc.join(rk, ["day", "s"]).select("day", "event_type", "r2")
    return ranked, kk, cc


@register(
    "q_friedman_test",
    oracle=f"""
    WITH {_FRIEDMAN_RANK_CTES},
    per_t AS (
      SELECT event_type, CAST(SUM(r2) AS BIGINT) AS r2_sum,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ranked GROUP BY event_type),
    a4 AS (SELECT CAST(SUM(r2 * r2) AS BIGINT) AS a4 FROM ranked),
    s4 AS (
      SELECT CAST(SUM((r2_sum - n * ((SELECT k FROM kk) + 1))
                      * (r2_sum - n * ((SELECT k FROM kk) + 1))) AS BIGINT)
               AS s4,
             CAST(MAX(n) AS BIGINT) AS n
      FROM per_t)
    SELECT n AS n_blocks, (SELECT k FROM kk) AS n_treatments,
           CASE WHEN a4 - n * (SELECT k FROM kk)
                     * ((SELECT k FROM kk) + 1) * ((SELECT k FROM kk) + 1) <> 0
                THEN ROUND(CAST(((SELECT k FROM kk) - 1) * s4 AS DOUBLE)
                     / CAST(a4 - n * (SELECT k FROM kk)
                            * ((SELECT k FROM kk) + 1)
                            * ((SELECT k FROM kk) + 1) AS DOUBLE), 6)
           END AS q_friedman
    FROM s4, a4
    """,
    description="Friedman test (within-block rank test — the "
    "repeated-measures sibling of Kruskal-Wallis): blocks = days, "
    "treatments = event types, cell = exact-micro daily value total; "
    "within each COMPLETE block the k cells get integer doubled midranks "
    "(2*cum + c + 1), and the tie-general statistic Q = (k-1)*S4 / "
    "(A4 - n*k*(k+1)^2) — with S4 = sum_j (R2_j - n(k+1))^2 and A4 = "
    "sum r2^2 — is ENTIRELY integer arithmetic up to ONE final division "
    "(the /4s cancel; no float ever sums across groups). Incomplete "
    "blocks (a day missing a type) are dropped, the standard treatment. "
    "SCALE: one (day,type) rollup; all windows partition by day over "
    "k-row frames",
    tags=("events", "stats", "experiment", "nonparametric"),
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked, kk, _cc = _friedman_ranked(spark, sf_dir)
    per_t = ranked.groupBy("event_type").agg(
        F.sum("r2").cast("bigint").alias("r2_sum"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    a4 = ranked.agg(
        F.sum(F.col("r2") * F.col("r2")).cast("bigint").alias("a4")
    )
    s4 = (
        per_t.crossJoin(F.broadcast(kk))
        .select(
            (F.col("r2_sum") - F.col("n") * (F.col("k") + 1)).alias("d"),
            "n", "k",
        )
        .agg(
            F.sum(F.col("d") * F.col("d")).cast("bigint").alias("s4"),
            F.max("n").cast("bigint").alias("n"),
            F.max("k").cast("bigint").alias("k"),
        )
    )
    return s4.crossJoin(F.broadcast(a4)).selectExpr(
        "n AS n_blocks", "k AS n_treatments",
        "CASE WHEN a4 - n * k * (k + 1) * (k + 1) <> 0"
        " THEN ROUND(CAST((k - 1) * s4 AS DOUBLE)"
        " / CAST(a4 - n * k * (k + 1) * (k + 1) AS DOUBLE), 6)"
        " END AS q_friedman",
    )


# --- Page's trend test (within-block ordered alternative) --------------------

# z from exact integers: L2 = 2L, mean2 = 2*mu_L = n*k*(k+1)^2 / 2 (exact —
# k(k+1) is even), sigma_L^2 = n*k^2*(k+1)^2*(k-1)/144 (no-tie form; block
# ranks come from micro-integer daily totals, so within-block ties are
# measure-zero — asserted by the pytest pin)
_PAGE_Z = (
    "ROUND((CAST(l2 AS DOUBLE) - CAST(mean2 AS DOUBLE)) / (2.0 * sqrt("
    "CAST(n * k * k * (k + 1) * (k + 1) * (k - 1) AS DOUBLE) / 144.0)), 6)"
)


@register(
    "q_page_trend",
    oracle=f"""
    WITH {_FRIEDMAN_RANK_CTES},
    tord AS (
      SELECT event_type,
             CAST(ROW_NUMBER() OVER (ORDER BY event_type) AS BIGINT) AS j
      FROM (SELECT DISTINCT event_type FROM ranked)),
    per_t AS (
      SELECT r.event_type, tord.j,
             CAST(SUM(r.r2) AS BIGINT) AS r2_sum,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ranked r JOIN tord ON r.event_type = tord.event_type
      GROUP BY r.event_type, tord.j),
    agg AS (
      SELECT CAST(SUM(j * r2_sum) AS BIGINT) AS l2,
             CAST(MAX(n) AS BIGINT) AS n
      FROM per_t),
    fin AS (
      SELECT agg.l2, agg.n, kk.k,
             CAST(agg.n * kk.k * (kk.k + 1) * (kk.k + 1) // 2 AS BIGINT)
               AS mean2
      FROM agg, kk)
    SELECT n AS n_blocks, k, l2, mean2, {_PAGE_Z} AS z
    FROM fin
    """,
    description="Page's L trend test (the ordered-alternative sibling of "
    "Friedman, as Jonckheere is to Kruskal-Wallis): within-block doubled "
    "midranks from the shared Friedman kernel, L2 = sum over treatments "
    "of rank-position j (alphabetical event-type order — the fixture's "
    "deterministic a-priori ordering) times the doubled rank sum — "
    "EXACT integers; null mean n*k*(k+1)^2/2 exact; one final float z "
    "with the no-tie variance (block ranks come from micro-integer "
    "totals, ties measure-zero, pinned). SCALE: identical to "
    "q_friedman_test — one (day,type) rollup + k-row per-day windows",
    tags=("events", "stats", "experiment", "nonparametric"),
)
def q_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked, kk, _cc = _friedman_ranked(spark, sf_dir)
    w_ord = Window.orderBy("event_type")
    tord = (
        ranked.select("event_type").distinct()
        .select("event_type", F.row_number().over(w_ord).cast("bigint").alias("j"))
    )
    per_t = (
        ranked.join(F.broadcast(tord), "event_type")
        .groupBy("event_type", "j")
        .agg(
            F.sum("r2").cast("bigint").alias("r2_sum"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    agg = per_t.agg(
        F.sum(F.col("j") * F.col("r2_sum")).cast("bigint").alias("l2"),
        F.max("n").cast("bigint").alias("n"),
    )
    return agg.crossJoin(F.broadcast(kk)).selectExpr(
        "n AS n_blocks", "k", "l2",
        "n * k * (k + 1) * (k + 1) div 2 AS mean2",
        f"{_PAGE_Z} AS z",
    )


# --- Cochran's Q (within-block binary treatment test) ------------------------


@register(
    "q_cochran_q",
    oracle=f"""
    WITH {_FRIEDMAN_RANK_CTES},
    tg AS (
      SELECT event_type, s, CAST(COUNT(*) AS BIGINT) AS c FROM cc
      GROUP BY event_type, s),
    tr AS (
      SELECT event_type, s,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
             CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS nb
      FROM tg),
    med AS (
      SELECT event_type, CAST(MIN(s) AS BIGINT) AS med_s
      FROM tr WHERE cum >= (nb + 1) // 2 GROUP BY event_type),
    x AS (
      SELECT cc.day, cc.event_type,
             CASE WHEN cc.s > med.med_s THEN 1 ELSE 0 END AS v
      FROM cc JOIN med ON cc.event_type = med.event_type),
    cj AS (SELECT event_type, CAST(SUM(v) AS BIGINT) AS c FROM x
           GROUP BY event_type),
    ri AS (SELECT day, CAST(SUM(v) AS BIGINT) AS r FROM x GROUP BY day),
    agg AS (
      SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM cj) AS nones,
             (SELECT CAST(SUM(c * c) AS BIGINT) FROM cj) AS scj2,
             (SELECT CAST(SUM(r * r) AS BIGINT) FROM ri) AS sri2,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ri) AS b,
             (SELECT k FROM kk) AS k)
    SELECT b AS n_blocks, k, nones AS n_ones, scj2 AS sum_cj2,
           sri2 AS sum_ri2,
           CASE WHEN k * nones - sri2 <> 0
                THEN ROUND(CAST((k - 1) * (k * scj2 - nones * nones)
                     AS DOUBLE) / CAST(k * nones - sri2 AS DOUBLE), 6)
           END AS q_cochran
    FROM agg
    """,
    description="Cochran's Q (within-block binary treatment test — the "
    "k-treatment McNemar, completing the within-subject family beside "
    "Friedman/Page): response x_ij = 1 iff treatment j's daily micro "
    "total in block (day) i exceeds treatment j's own rank-pick median "
    "daily total (above-typical-day indicator, deterministic); Q = "
    "(k-1)(k*sum C_j^2 - N^2)/(k*N - sum R_i^2) ENTIRELY from exact "
    "integers with ONE final division, NULL-guarded when every block is "
    "constant. SCALE: the same (day,type) rollup as the Friedman "
    "kernel + per-type bounded median windows + two tiny rollups",
    tags=("events", "stats", "experiment", "nonparametric"),
)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ranked, kk, cc = _friedman_ranked(spark, sf_dir)
    tg = cc.groupBy("event_type", "s").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    tr = tg.select(
        "event_type", "s",
        F.sum("c").over(w_cum).cast("bigint").alias("cum"),
        F.sum("c").over(w_all).cast("bigint").alias("nb"),
    )
    med = (
        tr.where(F.expr("cum >= (nb + 1) div 2"))
        .groupBy("event_type")
        .agg(F.min("s").cast("bigint").alias("med_s"))
    )
    x = cc.join(F.broadcast(med), "event_type").select(
        "day", "event_type",
        F.when(F.col("s") > F.col("med_s"), 1).otherwise(0).alias("v"),
    )
    cj = x.groupBy("event_type").agg(F.sum("v").cast("bigint").alias("c"))
    ri = x.groupBy("day").agg(F.sum("v").cast("bigint").alias("r"))
    cagg = cj.agg(
        F.sum("c").cast("bigint").alias("nones"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("scj2"),
    )
    ragg = ri.agg(
        F.sum(F.col("r") * F.col("r")).cast("bigint").alias("sri2"),
        F.count(F.lit(1)).cast("bigint").alias("b"),
    )
    return (
        cagg.crossJoin(F.broadcast(ragg))
        .crossJoin(F.broadcast(kk))
        .selectExpr(
            "b AS n_blocks", "k", "nones AS n_ones", "scj2 AS sum_cj2",
            "sri2 AS sum_ri2",
            "CASE WHEN k * nones - sri2 <> 0"
            " THEN ROUND(CAST((k - 1) * (k * scj2 - nones * nones)"
            " AS DOUBLE) / CAST(k * nones - sri2 AS DOUBLE), 6)"
            " END AS q_cochran",
        )
    )


# --- Hodges-Lehmann shift estimator ------------------------------------------


@register(
    "q_hodges_lehmann",
    oracle=f"""
    WITH e AS (SELECT {_EPOCH_DUCK} AS ep, event_type, value FROM events),
    days AS (
      SELECT event_type, ep // 86400 AS day,
             CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) * 1000000
                  AS BIGINT) AS s
      FROM e WHERE event_type IN ('purchase', 'click')
      GROUP BY event_type, ep // 86400),
    a AS (SELECT day, s FROM days WHERE event_type = 'purchase'),
    b AS (SELECT day, s FROM days WHERE event_type = 'click'),
    diffs AS (
      SELECT a.s - b.s AS d, CAST(COUNT(*) AS BIGINT) AS c
      FROM a CROSS JOIN b GROUP BY a.s - b.s),
    cum AS (
      SELECT d, c,
             CAST(SUM(c) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(SUM(c) OVER () AS BIGINT) AS np
      FROM diffs),
    pick AS (
      SELECT CAST(MIN(d) AS BIGINT) AS hl_shift_micro,
             CAST(MAX(np) AS BIGINT) AS n_pairs
      FROM cum WHERE cum >= (np + 1) // 2)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b,
           n_pairs, hl_shift_micro
    FROM pick
    """,
    description="Hodges-Lehmann shift estimator (the robust location-"
    "difference companion of the Mann-Whitney test): the median of all "
    "pairwise differences between the purchase and click DAILY totals — "
    "day-level units make the pair frame |days_a| x |days_b| (calendar-"
    "bounded, the textbook HL applied where it scales; raw-row HL is "
    "quadratic and needs sampling), totals exact micro integers, the "
    "median a lower rank-pick over the difference rollup (cumulative "
    "window on a day-pair-bounded frame). SCALE: one (type, day) rollup "
    "+ a bounded cross join + one bounded rank-pick window",
    tags=("events", "stats", "experiment", "nonparametric"),
)
def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    days = (
        e.where(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type", F.expr("ep div 86400").alias("day"))
        .agg(
            (F.sum(dec6(F.round("value", 6))) * 1000000)
            .cast("bigint").alias("s")
        )
    )
    a = days.where(F.col("event_type") == "purchase").select(
        F.col("s").alias("sa")
    )
    b = days.where(F.col("event_type") == "click").select(
        F.col("s").alias("sb")
    )
    diffs = (
        a.crossJoin(F.broadcast(b))
        .groupBy((F.col("sa") - F.col("sb")).alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = diffs.select(
        "d", "c",
        F.sum("c").over(w_cum).cast("bigint").alias("cum"),
        F.sum("c").over(w_all).cast("bigint").alias("np"),
    )
    pick = cum.where(F.expr("cum >= (np + 1) div 2")).agg(
        F.min("d").cast("bigint").alias("hl_shift_micro"),
        F.max("np").cast("bigint").alias("n_pairs"),
    )
    na = a.agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
    nb = b.agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(pick))
        .select("n_a", "n_b", "n_pairs", "hl_shift_micro")
    )


# --- Brown-Forsythe / Levene variance-homogeneity test ----------------------

_BF_SSB = (
    "(CAST(sq AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)"
    " / CAST(nt AS DOUBLE))"
)
_BF_SSW = "(CAST(sst AS DOUBLE) - CAST(sq AS DOUBLE))"


@register(
    "q_levene_test",
    oracle=f"""
    WITH base AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    g AS (
      SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM base GROUP BY event_type, cents),
    r AS (
      SELECT event_type, cents,
             CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n_g
      FROM g),
    med AS (
      SELECT event_type, CAST(MIN(cents) AS BIGINT) AS med_c
      FROM r WHERE cum >= (n_g + 1) // 2 GROUP BY event_type),
    z AS (
      SELECT b.event_type, ABS(b.cents - m.med_c) AS zc
      FROM base b JOIN med m ON b.event_type = m.event_type),
    per_g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(zc) AS BIGINT) AS sg,
             CAST(SUM(zc * zc) AS BIGINT) AS ssg
      FROM z GROUP BY event_type),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_g) AS BIGINT) AS nt,
             CAST(SUM(sg) AS BIGINT) AS st,
             CAST(SUM(ssg) AS BIGINT) AS sst,
             list_reduce(
               list_transform(
                 list({{'g': event_type, 'r': sg, 'm': n_g}}
                      ORDER BY event_type),
                 x -> CAST(x.r AS DOUBLE) * CAST(x.r AS DOUBLE)
                      / CAST(x.m AS DOUBLE)),
               (a, b) -> a + b) AS sq
      FROM per_g)
    SELECT nt AS n, k AS n_groups,
           ROUND({_BF_SSB}, 6) AS ssb,
           ROUND({_BF_SSW}, 6) AS ssw,
           ROUND(({_BF_SSB} / CAST(k - 1 AS DOUBLE))
                 / ({_BF_SSW} / CAST(nt - k AS DOUBLE)), 6) AS f_bf
    FROM sums
    """,
    description="Brown-Forsythe test (Levene's variance-homogeneity test "
    "with MEDIAN centers — the robust variant) across all 5 event types: "
    "per-group medians by rank-pick over the per-type distinct-cents "
    "rollup (partitioned windows, frames bounded by the value DOMAIN), "
    "then one-way ANOVA F on the |cents - median| deviations — all sums "
    "EXACT integers (cents are bounded so zc^2 sums stay in BIGINT), "
    "and the cross-group sg^2/n_g float sum folds in explicit group "
    "order on both engines (the mirrored-float-order recipe), F one "
    "shared fixed-order expression. "
    "The variance-equality gate in front of pooled t/ANOVA decisions. "
    "SCALE: two wordcount-shaped rollups + one broadcast median join",
    tags=("events", "stats", "experiment"),
)
def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    base = e.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    g = base.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    r = g.select(
        "event_type", "cents",
        F.sum("cnt").over(w_cum).cast("bigint").alias("cum"),
        F.sum("cnt").over(w_all).cast("bigint").alias("n_g"),
    )
    med = (
        r.where(F.expr("cum >= (n_g + 1) div 2"))
        .groupBy("event_type")
        .agg(F.min("cents").cast("bigint").alias("med_c"))
    )
    z = base.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("cents") - F.col("med_c")).alias("zc")
    )
    per_g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("zc").cast("bigint").alias("sg"),
        F.sum(F.col("zc") * F.col("zc")).cast("bigint").alias("ssg"),
    )
    sums = per_g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("nt"),
        F.sum("sg").cast("bigint").alias("st"),
        F.sum("ssg").cast("bigint").alias("sst"),
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("event_type").alias("g"),
                        F.col("sg").alias("r"),
                        F.col("n_g").alias("m"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc
            + x["r"].cast("double") * x["r"].cast("double")
            / x["m"].cast("double"),
        ).alias("sq"),
    )
    return sums.selectExpr(
        "nt AS n", "k AS n_groups",
        f"ROUND({_BF_SSB}, 6) AS ssb",
        f"ROUND({_BF_SSW}, 6) AS ssw",
        f"ROUND(({_BF_SSB} / CAST(k - 1 AS DOUBLE))"
        f" / ({_BF_SSW} / CAST(nt - k AS DOUBLE)), 6) AS f_bf",
    )


# --- Jonckheere-Terpstra ordered-alternative test ----------------------------

# z evaluated from exact BIGINT building blocks on both engines; the three
# variance terms are the Hollander-Wolfe tie-corrected decomposition
_JT_VAR = (
    "(CAST(nn * (nn - 1) * (2 * nn + 5) - g25 - t25 AS DOUBLE) / 72.0"
    " + CAST(g3 AS DOUBLE) * CAST(t3 AS DOUBLE)"
    "   / (36.0 * CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE)"
    "      * CAST(nn - 2 AS DOUBLE))"
    " + CAST(g2 AS DOUBLE) * CAST(t2 AS DOUBLE)"
    "   / (8.0 * CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE)))"
)
_JT_Z = (
    f"ROUND((CAST(jt2 AS DOUBLE) - CAST(mean2 AS DOUBLE))"
    f" / (2.0 * sqrt({_JT_VAR})), 6)"
)


@register(
    "q_jonckheere",
    oracle=f"""
    WITH gv AS (
      SELECT event_type AS g, value AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, value),
    vals AS (SELECT DISTINCT v FROM gv),
    grps AS (SELECT DISTINCT g FROM gv),
    grid AS (
      SELECT grps.g, vals.v, COALESCE(gv.c, 0) AS c
      FROM grps CROSS JOIN vals
      LEFT JOIN gv ON gv.g = grps.g AND gv.v = vals.v),
    cum AS (
      SELECT g, v, c,
             COALESCE(CAST(SUM(c) OVER (PARTITION BY g ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) AS cumlt
      FROM grid),
    u AS (
      SELECT CAST(SUM(b.c * (2 * a.cumlt + a.c)) AS BIGINT) AS jt2
      FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g),
    ng AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM gv GROUP BY g),
    mu AS (
      SELECT CAST(SUM(a.n * b.n) AS BIGINT) AS mean2
      FROM ng a JOIN ng b ON a.g < b.g),
    gsum AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(n * (n - 1) * (2 * n + 5)) AS BIGINT) AS g25,
             CAST(SUM(n * (n - 1) * (n - 2)) AS BIGINT) AS g3,
             CAST(SUM(n * (n - 1)) AS BIGINT) AS g2
      FROM ng),
    tv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM gv GROUP BY v),
    tsum AS (
      SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS t25,
             CAST(SUM(t * (t - 1) * (t - 2)) AS BIGINT) AS t3,
             CAST(SUM(t * (t - 1)) AS BIGINT) AS t2
      FROM tv)
    SELECT nn AS n, jt2, mean2, {_JT_Z} AS z
    FROM u, mu, gsum, tsum
    """,
    description="Jonckheere-Terpstra ordered-alternative k-sample test "
    "(the trend-aware sibling of Kruskal-Wallis — detects monotone "
    "location shift across the alphabetically-ordered event types, the "
    "fixture's deterministic a-priori ordering): JT = sum over ordered "
    "group pairs of the Mann-Whitney U with half-credit ties, computed "
    "as EXACT integers (2U = sum over the pooled value grid of "
    "c_j(v)*(2*cumlt_i(v) + c_i(v))); null mean and the three-term "
    "Hollander-Wolfe tie-corrected variance from exact group/tie "
    "moments; ONE final float z. SCALE: the (group x pooled-value) grid "
    "is k*|domain| rows — bounded like the MW/KS frames; the pair join "
    "is k^2-bounded per value",
    tags=("events", "stats", "experiment", "nonparametric"),
)
def q_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    gv = e.groupBy(F.col("event_type").alias("g"), F.col("value").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    vals = gv.select("v").distinct()
    grps = gv.select("g").distinct()
    # broadcast the k-row group side explicitly: grps is a distinct over
    # a scan, so without the hint Catalyst's size estimate decides between
    # BroadcastNestedLoopJoin and CartesianProduct and the no-cartesian
    # plan guard could flip under stats/AQE changes (round-8 ADVICE; same
    # reason the q_davies_bouldin pair join broadcasts)
    grid = (
        F.broadcast(grps).crossJoin(vals)
        .join(gv, ["g", "v"], "left")
        .na.fill({"c": 0})
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grid.select(
        "g", "v", "c",
        F.coalesce(F.sum("c").over(w).cast("bigint"), F.lit(0)).alias("cumlt"),
    )
    a = cum.selectExpr("g AS ga", "v", "c AS ca", "cumlt")
    b = cum.selectExpr("g AS gb", "v", "c AS cb")
    u = (
        a.join(b, "v")
        .where(F.col("ga") < F.col("gb"))
        .agg(
            F.sum(F.col("cb") * (2 * F.col("cumlt") + F.col("ca")))
            .cast("bigint").alias("jt2")
        )
    )
    ng = gv.groupBy("g").agg(F.sum("c").cast("bigint").alias("n"))
    na_ = ng.selectExpr("g AS ga", "n AS na")
    nb_ = ng.selectExpr("g AS gb", "n AS nb")
    mu = (
        F.broadcast(na_).crossJoin(nb_)
        .where(F.col("ga") < F.col("gb"))
        .agg(F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("mean2"))
    )
    gsum = ng.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5))
        .cast("bigint").alias("g25"),
        F.sum(F.col("n") * (F.col("n") - 1) * (F.col("n") - 2))
        .cast("bigint").alias("g3"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("bigint").alias("g2"),
    )
    tvf = gv.groupBy("v").agg(F.sum("c").cast("bigint").alias("t"))
    tsum = tvf.agg(
        F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
        .cast("bigint").alias("t25"),
        F.sum(F.col("t") * (F.col("t") - 1) * (F.col("t") - 2))
        .cast("bigint").alias("t3"),
        F.sum(F.col("t") * (F.col("t") - 1)).cast("bigint").alias("t2"),
    )
    return (
        u.crossJoin(F.broadcast(mu))
        .crossJoin(F.broadcast(gsum))
        .crossJoin(F.broadcast(tsum))
        .selectExpr("nn AS n", "jt2", "mean2", f"{_JT_Z} AS z")
    )


# --- Kolmogorov-Smirnov two-sample test ------------------------------------

@register(
    "q_ks_test",
    oracle=_TWO_SAMPLE_DUCK + """
    r AS (
      SELECT event_type,
""" + _CUM_COUNTS_DUCK + """    d AS (
      SELECT event_type, n_a, n - n_a AS n_b,
             ABS(cum_a * (n - n_a) - (cum - cum_a) * n_a) AS d_num
      FROM r)
    SELECT event_type, n_a, n_b,
           CAST(MAX(d_num) AS BIGINT) AS d_num,
           CAST(MAX(d_num) AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
               AS d_stat,
           ROUND(CAST(MAX(d_num) AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                        / CAST(n_a + n_b AS DOUBLE)), 6) AS ks_scaled
    FROM d GROUP BY event_type, n_a, n_b ORDER BY event_type
    """,
    description="two-sample Kolmogorov-Smirnov test per event type (cohort "
    "A = even user_id): D = max |ECDF_A - ECDF_B| carried as the EXACT "
    "integer cross-product |cumA*nB - cumB*nA| (no float compare decides "
    "the max), one final IEEE division for D and the sqrt(n_a*n_b/n) "
    "effect scaling. SCALE: identical shape to q_mann_whitney — the "
    "cumulative window runs over the distinct-value frame after a map-side "
    "pre-aggregation, so the shuffle is |distinct values|, not |events|",
    tags=("events", "stats", "experiment", "nonparametric"),
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _two_sample_counts(spark, sf_dir).select("event_type", *_cum_counts())
    d = r.select(
        "event_type", "n_a", (F.col("n") - F.col("n_a")).alias("n_b"),
        F.abs(
            F.col("cum_a") * (F.col("n") - F.col("n_a"))
            - (F.col("cum") - F.col("cum_a")) * F.col("n_a")
        ).alias("d_num"),
    )
    out = d.groupBy("event_type", "n_a", "n_b").agg(
        F.max("d_num").cast("bigint").alias("d_num")
    )
    d_stat = F.col("d_num").cast("double") / (
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    return out.select(
        "event_type", "n_a", "n_b", "d_num",
        d_stat.alias("d_stat"),
        F.round(
            d_stat
            * F.sqrt(
                F.col("n_a").cast("double") * F.col("n_b").cast("double")
                / (F.col("n_a") + F.col("n_b")).cast("double")
            ),
            6,
        ).alias("ks_scaled"),
    ).orderBy("event_type")


# --- Welch's t-test ----------------------------------------------------------

# Shared scalar tail evaluated by BOTH engines from identical exact moment
# columns (n_a/n_b BIGINT, sx/sxx DOUBLE backed by DECIMAL(18,6) sums):
# every operation below is fixed-order IEEE arithmetic on bit-identical
# operands, so the results hash-match without any transcendental scaffolding
# (sqrt is correctly rounded by the IEEE standard).
_VA = "((sxx_a - sx_a * sx_a / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE))"
_VB = "((sxx_b - sx_b * sx_b / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE))"
_SEA = f"({_VA} / CAST(n_a AS DOUBLE))"
_SEB = f"({_VB} / CAST(n_b AS DOUBLE))"
_WELCH_T = (
    f"ROUND((sx_a / CAST(n_a AS DOUBLE) - sx_b / CAST(n_b AS DOUBLE))"
    f" / sqrt({_SEA} + {_SEB}), 6)"
)
_WELCH_DF = (
    f"ROUND(({_SEA} + {_SEB}) * ({_SEA} + {_SEB})"
    f" / ({_SEA} * {_SEA} / CAST(n_a - 1 AS DOUBLE)"
    f" + {_SEB} * {_SEB} / CAST(n_b - 1 AS DOUBLE)), 6)"
)


@register(
    "q_welch_ttest",
    oracle=f"""
    WITH base AS (
      SELECT event_type, round(value, 6) AS v,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS in_a
      FROM events),
    m AS (
      SELECT event_type,
             CAST(SUM(in_a) AS BIGINT) AS n_a,
             CAST(COUNT(*) - SUM(in_a) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN in_a = 1 THEN CAST(v AS DECIMAL(18,6))
                           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS sx_a,
             CAST(SUM(CASE WHEN in_a = 0 THEN CAST(v AS DECIMAL(18,6))
                           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS sx_b,
             CAST(SUM(CASE WHEN in_a = 1 THEN CAST(round(v * v, 6) AS DECIMAL(18,6))
                           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS sxx_a,
             CAST(SUM(CASE WHEN in_a = 0 THEN CAST(round(v * v, 6) AS DECIMAL(18,6))
                           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS sxx_b
      FROM base GROUP BY event_type)
    SELECT event_type, n_a, n_b, {_WELCH_T} AS t, {_WELCH_DF} AS df
    FROM m ORDER BY event_type
    """,
    description="Welch's unequal-variance t-test per event type (cohort A = "
    "even user_id), completing the experimentation family beside the pooled "
    "z-test / chi-square / Mann-Whitney / KS: per-cohort moments ride "
    "DECIMAL(18,6) conditional sums (order-invariant under distributed "
    "aggregation), then t and the Welch-Satterthwaite df are one shared "
    "fixed-order IEEE expression evaluated from identical operands on both "
    "engines. SCALE: one map-side partial-aggregated groupBy over the raw "
    "scan — the whole test is a single shuffle of |event_type| rows",
    tags=("events", "stats", "experiment"),
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    base = e.select(
        "event_type",
        F.round("value", 6).alias("v"),
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("in_a"),
    )
    z6 = F.lit(0).cast("decimal(18,6)")
    m = base.groupBy("event_type").agg(
        F.sum("in_a").cast("bigint").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("in_a")).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("in_a") == 1, dec6("v")).otherwise(z6))
        .cast("double").alias("sx_a"),
        F.sum(F.when(F.col("in_a") == 0, dec6("v")).otherwise(z6))
        .cast("double").alias("sx_b"),
        F.sum(
            F.when(F.col("in_a") == 1, dec6(F.round(F.col("v") * F.col("v"), 6)))
            .otherwise(z6)
        ).cast("double").alias("sxx_a"),
        F.sum(
            F.when(F.col("in_a") == 0, dec6(F.round(F.col("v") * F.col("v"), 6)))
            .otherwise(z6)
        ).cast("double").alias("sxx_b"),
    )
    return m.select(
        "event_type", "n_a", "n_b",
        F.expr(_WELCH_T).alias("t"),
        F.expr(_WELCH_DF).alias("df"),
    ).orderBy("event_type")


# The daily event-value series: per day, the DECIMAL sum of values as exact
# integer micro-units s.
_DAILY_SUMS_DUCK = f"""
    WITH e AS (SELECT {_EPOCH_DUCK} AS ep, value FROM events),
    days AS (
      SELECT ep // 86400 AS day,
             CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) * 1000000
                  AS BIGINT) AS s
      FROM e GROUP BY ep // 86400),
"""

# The daily series' residuals as exact integers r = n*s - S (n days, S the
# sum of s), the scaled identity that needs no float mean.
_DAILY_RESID_DUCK = _DAILY_SUMS_DUCK + """
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS ssum
           FROM days),
    r AS (
      SELECT day, CAST((SELECT n FROM st) * s - (SELECT ssum FROM st)
                       AS DECIMAL(38,0)) AS r
      FROM days),
"""


def _micro_value_sum() -> Column:
    """Sum of ``value`` as exact integer micro-units (each value rounded to
    a 6-place decimal first)."""
    return (F.sum(dec6(F.round("value", 6))) * 1000000).cast("bigint")


def _daily_sums(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The daily event-value series: ``day`` and its micro-unit sum ``name``."""
    e = events_table(spark, sf_dir)
    return e.groupBy(F.expr("ep div 86400").alias("day")).agg(
        _micro_value_sum().alias(name)
    )


def _daily_residuals(days: DataFrame, dtype: str) -> DataFrame:
    """``day`` and the exact residual r = n*s - S of the daily series, cast
    to ``dtype``."""
    st = days.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("ssum"),
    )
    return days.crossJoin(F.broadcast(st)).select(
        "day", (F.col("n") * F.col("s") - F.col("ssum")).cast(dtype).alias("r")
    )


# --- multi-lag autocorrelation (ACF) ----------------------------------------

_ACF_LAGS = 7


@register(
    "q_acf_multilag",
    oracle=_DAILY_RESID_DUCK + f"""
    ld AS (
      SELECT r,
             {", ".join(f"LEAD(r, {k}) OVER (ORDER BY day) AS r{k}" for k in range(1, _ACF_LAGS + 1))}
      FROM r),
    agg AS (
      SELECT CAST(SUM(r * r) AS DECIMAL(38,0)) AS den,
             {", ".join(f"CAST(SUM(r * r{k}) AS DECIMAL(38,0)) AS num{k}" for k in range(1, _ACF_LAGS + 1))}
      FROM ld)
    {" UNION ALL ".join(f"SELECT CAST({k} AS INTEGER) AS lag, ROUND(CAST(num{k} AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf FROM agg" for k in range(1, _ACF_LAGS + 1))}
    ORDER BY lag
    """,
    description="multi-lag autocorrelation function (lags 1..7) of the "
    "daily event-value series: daily totals are EXACT integer micro-units "
    "(DECIMAL sums x 1e6), residuals use the scaled identity r_t = n*s_t - S "
    "(no float mean subtraction — r_t is an exact integer), and each "
    "acf_k = sum(r_t*r_{{t+k}})/sum(r_t^2) is one final IEEE division of "
    "exact DECIMAL(38,0) cross-products. SCALE: the raw scan aggregates "
    "map-side to |days| rows; the lag windows run on that tiny frame (the "
    "single-partition window is over ~365 rows, not the event stream)",
    tags=("events", "timeseries", "stats"),
)
def q_acf_multilag(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _daily_residuals(_daily_sums(spark, sf_dir, "s"), "decimal(38,0)")
    w = Window.orderBy("day")
    ld = r.select(
        "r",
        *[F.lead("r", k).over(w).alias(f"r{k}") for k in range(1, _ACF_LAGS + 1)],
    )
    agg = ld.agg(
        F.sum(F.col("r") * F.col("r")).cast("decimal(38,0)").alias("den"),
        *[
            F.sum(F.col("r") * F.col(f"r{k}")).cast("decimal(38,0)").alias(f"num{k}")
            for k in range(1, _ACF_LAGS + 1)
        ],
    )
    stacked = agg.selectExpr(
        "stack({n}, {pairs}) AS (lag, acf)".format(
            n=_ACF_LAGS,
            pairs=", ".join(
                f"CAST({k} AS INT), ROUND(CAST(num{k} AS DOUBLE) / CAST(den AS DOUBLE), 6)"
                for k in range(1, _ACF_LAGS + 1)
            ),
        )
    )
    return stacked.orderBy("lag")


# --- seasonal indices (ratio-to-overall-mean decomposition) ------------------

@register(
    "q_seasonal_indices",
    oracle=_DAILY_SUMS_DUCK + f"""
    per AS (
      SELECT CAST(day % 7 AS INTEGER) AS dow,
             CAST(SUM(s) AS BIGINT) AS sum_d,
             CAST(COUNT(*) AS BIGINT) AS cnt_d
      FROM days GROUP BY day % 7),
    tot AS (SELECT CAST(SUM(s) AS BIGINT) AS sum_all,
                   CAST(COUNT(*) AS BIGINT) AS cnt_all
            FROM days)
    SELECT dow, cnt_d,
           ROUND(CAST(CAST(sum_d AS DECIMAL(38,0)) * cnt_all AS DOUBLE)
                 / CAST(CAST(cnt_d AS DECIMAL(38,0)) * sum_all AS DOUBLE),
                 6) AS seasonal_idx
    FROM per CROSS JOIN tot ORDER BY dow
    """,
    description="day-of-week seasonal indices (the classical "
    "ratio-to-overall-mean decomposition step): daily totals as exact "
    "integer micro-units, index = (dow mean)/(grand mean) evaluated as ONE "
    "IEEE division of two exact DECIMAL(38,0) cross-products "
    "(sum_d*cnt_all)/(cnt_d*sum_all) — no intermediate float means. "
    "SCALE: map-side rollup to |days|, then a 7-row group-by against a "
    "1-row broadcast total",
    tags=("events", "timeseries", "seasonality"),
)
def q_seasonal_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = _daily_sums(spark, sf_dir, "s")
    per = days.groupBy((F.col("day") % 7).cast("int").alias("dow")).agg(
        F.sum("s").cast("bigint").alias("sum_d"),
        F.count(F.lit(1)).cast("bigint").alias("cnt_d"),
    )
    tot = days.agg(
        F.sum("s").cast("bigint").alias("sum_all"),
        F.count(F.lit(1)).cast("bigint").alias("cnt_all"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "dow", "cnt_d",
        F.round(
            (F.col("sum_d").cast("decimal(38,0)") * F.col("cnt_all")).cast("double")
            / (F.col("cnt_d").cast("decimal(38,0)") * F.col("sum_all")).cast("double"),
            6,
        ).alias("seasonal_idx"),
    ).orderBy("dow")


# --- one-way ANOVA F ----------------------------------------------------------

@register(
    "q_anova_f",
    oracle=f"""
    WITH base AS (SELECT event_type, round(value, 6) AS v FROM events),
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_j,
             CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS s_j,
             CAST(SUM(CAST(round(v * v, 6) AS DECIMAL(18,6))) AS DOUBLE) AS ss_j
      FROM base GROUP BY event_type),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_j) AS BIGINT) AS n,
             CAST(SUM(CAST(round(s_j * s_j / n_j, 6) AS DECIMAL(18,6)))
                  AS DOUBLE) AS sum_sq_over_n,
             CAST(SUM(CAST(s_j AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(ss_j AS DECIMAL(18,6))) AS DOUBLE) AS ss
      FROM g)
    SELECT k, n,
           ROUND((sum_sq_over_n - s * s / n) / (k - 1), 6) AS msb,
           ROUND((ss - sum_sq_over_n) / (n - k), 6) AS msw,
           ROUND(((sum_sq_over_n - s * s / n) / (k - 1))
                 / ((ss - sum_sq_over_n) / (n - k)), 6) AS f_stat
    FROM t
    """,
    description="one-way ANOVA F statistic across event types (completes "
    "the experimentation family: z / chi-square / Welch / Mann-Whitney / "
    "KS / F): per-group moments ride DECIMAL sums; the cross-group "
    "reduction sums ROUND(s_j^2/n_j, 6) DECIMAL per-group contributions "
    "(group iteration order cannot change a decimal sum), then F = "
    "[SSB/(k-1)]/[SSW/(n-k)] as fixed-order IEEE ops on identical "
    "operands. SCALE: one map-side partial-aggregated groupBy, then a "
    "k-row reduction — the whole test costs one shuffle of |event_type|",
    tags=("events", "stats", "experiment"),
)
def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    base = e.select("event_type", F.round("value", 6).alias("v"))
    g = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_j"),
        F.sum(dec6("v")).cast("double").alias("s_j"),
        F.sum(dec6(F.round(F.col("v") * F.col("v"), 6))).cast("double").alias("ss_j"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_j").cast("bigint").alias("n"),
        F.sum(dec6(F.round(F.col("s_j") * F.col("s_j") / F.col("n_j"), 6)))
        .cast("double").alias("sum_sq_over_n"),
        F.sum(dec6("s_j")).cast("double").alias("s"),
        F.sum(dec6("ss_j")).cast("double").alias("ss"),
    )
    msb = (F.col("sum_sq_over_n") - F.col("s") * F.col("s") / F.col("n")) / (
        F.col("k") - 1
    )
    msw = (F.col("ss") - F.col("sum_sq_over_n")) / (F.col("n") - F.col("k"))
    return t.select(
        "k", "n",
        F.round(msb, 6).alias("msb"),
        F.round(msw, 6).alias("msw"),
        F.round(msb / msw, 6).alias("f_stat"),
    )


# --- Benjamini-Hochberg FDR -----------------------------------------------

_BH_ALPHA_NANO = 50_000_000  # alpha = 0.05 in nano units


@register(
    "q_bh_fdr",
    oracle=_MW_U_DUCK + f""",
    z AS (SELECT event_type, {_MW_Z} AS z FROM s),
    p AS (
      SELECT event_type,
             CAST(ROUND(ROUND(1.0 / (1.0 + z * z), 9) * 1000000000)
                  AS BIGINT) AS p_nano
      FROM z),
    rk AS (
      SELECT event_type, p_nano,
             ROW_NUMBER() OVER (ORDER BY p_nano, event_type) AS i,
             COUNT(*) OVER () AS m
      FROM p),
    adj0 AS (
      SELECT event_type, p_nano, i, m,
             LEAST((2 * m * p_nano + i) // (2 * i),
                   CAST(1000000000 AS BIGINT)) AS a_i,
             CASE WHEN p_nano * m <= i * {_BH_ALPHA_NANO} THEN i END AS ok_i
      FROM rk),
    fin AS (
      SELECT event_type, p_nano, CAST(i AS BIGINT) AS i,
             CAST(MIN(a_i) OVER (ORDER BY i
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                  AS BIGINT) AS adj_p_nano,
             MAX(ok_i) OVER () AS i_max
      FROM adj0)
    SELECT event_type, p_nano, i, adj_p_nano,
           CASE WHEN i_max IS NOT NULL AND i <= i_max THEN 1 ELSE 0 END
             AS rejected
    FROM fin ORDER BY i
    """,
    description="Benjamini-Hochberg step-up FDR control across the "
    "per-event-type Mann-Whitney z family (the multiple-testing layer "
    "every experimentation platform needs over its per-metric tests): "
    "p surrogate = 1/(1+z^2) nano-scaled (erf/exp are not engine-portable "
    "— any monotone-in-|z| surrogate exercises identical BH mechanics, "
    "documented), then the BH machinery is EXACT integer arithmetic: "
    "p_(i)*m <= i*alpha_nano step-up cutoff, adjusted p = backward cummin "
    "of round-half-away m*p/i, clamp at 1. SCALE: the test frame is "
    "|event_type| rows — the windows are global but over m rows, not the "
    "event stream (which aggregates map-side first)",
    tags=("events", "stats", "experiment", "fdr"),
)
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _mw_u_stats(spark, sf_dir)
    z = s.select("event_type", F.expr(_MW_Z).alias("z"))
    p = z.select(
        "event_type",
        F.round(F.round(1.0 / (1.0 + F.col("z") * F.col("z")), 9) * 1000000000)
        .cast("bigint").alias("p_nano"),
    )
    rk = p.select(
        "event_type", "p_nano",
        F.row_number().over(Window.orderBy("p_nano", "event_type")).alias("i"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("m"),
    )
    adj0 = rk.select(
        "event_type", "p_nano", "i", "m",
        F.least(
            F.expr("(2 * m * p_nano + i) div (2 * i)"),
            F.lit(1000000000).cast("bigint"),
        ).alias("a_i"),
        F.when(
            F.col("p_nano") * F.col("m") <= F.col("i") * F.lit(_BH_ALPHA_NANO),
            F.col("i"),
        ).alias("ok_i"),
    )
    wtail = Window.orderBy("i").rowsBetween(0, Window.unboundedFollowing)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    fin = adj0.select(
        "event_type", "p_nano", F.col("i").cast("bigint").alias("i"),
        F.min("a_i").over(wtail).cast("bigint").alias("adj_p_nano"),
        F.max("ok_i").over(wall).alias("i_max"),
    )
    return fin.select(
        "event_type", "p_nano", "i", "adj_p_nano",
        F.when(
            F.col("i_max").isNotNull() & (F.col("i") <= F.col("i_max")), 1
        ).otherwise(0).alias("rejected"),
    ).orderBy("i")


# --- Theil-Sen robust slope ----------------------------------------------------

@register(
    "q_theil_sen",
    oracle=_DAILY_SUMS_DUCK + f"""
    pairs AS (
      SELECT a.day AS i, b.day AS j,
             CAST(b.s - a.s AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope
      FROM days a JOIN days b ON b.day > a.day),
    rk AS (
      SELECT slope, ROW_NUMBER() OVER (ORDER BY slope, i, j) AS rn,
             COUNT(*) OVER () AS cnt
      FROM pairs)
    SELECT ROUND(slope, 6) AS slope_micro_per_day,
           CAST(cnt AS BIGINT) AS n_pairs
    FROM rk WHERE rn = (cnt + 1) // 2
    """,
    description="Theil-Sen robust trend estimator over the daily "
    "event-value series (the median-of-pairwise-slopes alternative to "
    "least squares — immune to outlier days): daily totals as exact "
    "integer micro-units, each pairwise slope ONE IEEE division of exact "
    "integers, median by rank-pick with (slope, i, j) tiebreak (the "
    "percentile_disc convention — no float interpolation). SCALE: the "
    "pair join runs on the DAILY rollup (bounded by the calendar, "
    "~365 rows regardless of event volume), never on raw events — the "
    "O(n^2) term is O(days^2), constant in data size",
    tags=("events", "timeseries", "robust"),
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = _daily_sums(spark, sf_dir, "s")
    a = days.select(F.col("day").alias("i"), F.col("s").alias("sa"))
    b = days.select(F.col("day").alias("j"), F.col("s").alias("sb"))
    pairs = a.join(F.broadcast(b), F.col("j") > F.col("i")).select(
        "i", "j",
        ((F.col("sb") - F.col("sa")).cast("double")
         / (F.col("j") - F.col("i")).cast("double")).alias("slope"),
    )
    rk = pairs.select(
        "slope",
        F.row_number().over(Window.orderBy("slope", "i", "j")).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("cnt"),
    )
    return rk.where(F.col("rn") == F.expr("(cnt + 1) div 2")).select(
        F.round("slope", 6).alias("slope_micro_per_day"),
        F.col("cnt").cast("bigint").alias("n_pairs"),
    )


# --- Kleinberg burst detection (2-state automaton, bounded Viterbi) -------------

_BURST_TYPE = "purchase"
_BURST_PAD = 40   # unroll bound; events span 30 calendar days at every SF
_BURST_GAMMA = 3.0  # transition cost = gamma * ln(n_days)
_BURST_LO, _BURST_HI = 11, 17  # injected hot window (day ranks, 1-based)


def _burst_oracle() -> str:
    from platform_etl_backend_spark.functions.portable_math import (
        duck_portable_ln_ratio as L,
    )

    head = f"""
    WITH e AS (SELECT {_EPOCH_DUCK} AS ep, event_type FROM events),
    dd0 AS (
      SELECT ep // 86400 AS day,
             CAST(SUM(CASE WHEN event_type = '{_BURST_TYPE}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS r0,
             CAST(COUNT(*) AS BIGINT) AS d0
      FROM e GROUP BY ep // 86400),
    dd AS (
      -- deterministic burst injection (days {_BURST_LO}..{_BURST_HI}
      -- tripled): the synthetic rates are flat by construction, so the
      -- untouched days exercise the detector's restraint and the
      -- injected window exercises detection
      SELECT day,
             CASE WHEN rnk BETWEEN {_BURST_LO} AND {_BURST_HI}
                  THEN 3 * r0 ELSE r0 END AS r,
             CASE WHEN rnk BETWEEN {_BURST_LO} AND {_BURST_HI}
                  THEN d0 + 2 * r0 ELSE d0 END AS d
      FROM (SELECT day, r0, d0,
                   ROW_NUMBER() OVER (ORDER BY day) AS rnk FROM dd0)),
    cst AS MATERIALIZED (
      SELECT CAST(SUM(r) AS BIGINT) AS rr, CAST(SUM(d) AS BIGINT) AS tt,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM dd),
    lns AS MATERIALIZED (
      SELECT n,
             {L('rr', 'tt')} AS lnp0,
             {L('tt - rr', 'tt')} AS ln1mp0,
             {L('2 * rr', 'tt')} AS lnp1,
             {L('tt - 2 * rr', 'tt')} AS ln1mp1,
             {_BURST_GAMMA!r} * {L('n', '1')} AS b
      FROM cst),
    days AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, day, r, d,
             -((CAST(r AS DOUBLE) * c.lnp0)
               + (CAST(d - r AS DOUBLE) * c.ln1mp0)) AS e0,
             -((CAST(r AS DOUBLE) * c.lnp1)
               + (CAST(d - r AS DOUBLE) * c.ln1mp1)) AS e1
      FROM dd CROSS JOIN lns c)"""
    ctes = [head.strip()]
    ctes.append(
        "f1 AS MATERIALIZED (SELECT d.e0 AS f0, d.e1 + c.b AS f1v "
        "FROM days d CROSS JOIN lns c WHERE d.i = 1)"
    )
    for t in range(2, _BURST_PAD + 1):
        ctes.append(
            f"""f{t} AS MATERIALIZED (
      SELECT CASE WHEN d.i IS NULL THEN p.f0
                  ELSE d.e0 + LEAST(p.f0, p.f1v) END AS f0,
             CASE WHEN d.i IS NULL THEN p.f1v
                  ELSE d.e1 + LEAST(p.f0 + c.b, p.f1v) END AS f1v
      FROM f{t - 1} p CROSS JOIN lns c LEFT JOIN days d ON d.i = {t})"""
        )
    ctes.append(
        f"g{_BURST_PAD} AS MATERIALIZED (SELECT 0.0 AS g0, 0.0 AS g1v)"
    )
    for t in range(_BURST_PAD - 1, 0, -1):
        ctes.append(
            f"""g{t} AS MATERIALIZED (
      SELECT CASE WHEN d.i IS NULL THEN p.g0
                  ELSE LEAST(p.g0 + d.e0, (p.g1v + d.e1) + c.b) END AS g0,
             CASE WHEN d.i IS NULL THEN p.g1v
                  ELSE LEAST(p.g0 + d.e0, p.g1v + d.e1) END AS g1v
      FROM g{t + 1} p CROSS JOIN lns c LEFT JOIN days d ON d.i = {t + 1})"""
        )
    fwd = " UNION ALL ".join(
        f"SELECT {t} AS t, f0, f1v FROM f{t}" for t in range(1, _BURST_PAD + 1)
    )
    bwd = " UNION ALL ".join(
        f"SELECT {t} AS t, g0, g1v FROM g{t}" for t in range(1, _BURST_PAD + 1)
    )
    ctes.append(f"fwd AS ({fwd})")
    ctes.append(f"bwd AS ({bwd})")
    final = """SELECT d.day, d.r AS n_type, d.d AS n_total,
           CASE WHEN (f.f1v + g.g1v) < (f.f0 + g.g0)
                THEN 1 ELSE 0 END AS burst
    FROM days d JOIN fwd f ON f.t = d.i JOIN bwd g ON g.t = d.i
    ORDER BY d.day"""
    return ",\n    ".join(ctes) + "\n    " + final


@register(
    "q_burst_detection",
    oracle=_burst_oracle(),
    description="Kleinberg burst detection (2-state infinite-automaton, "
    "Kleinberg KDD 2002 batch variant) over the daily purchase series "
    "with a deterministic 7-day injected hot window (the synthetic "
    "rates are flat by construction — the untouched days pin the "
    "detector's restraint, the injected days its detection; both "
    "engines inject identically): "
    "state q0 emits at the global rate p0 = R/D, q1 at 2*p0; per-day "
    "binomial emission costs drop the state-independent C(d,r) term and "
    "reduce to r*ln(p_i) + (d-r)*ln(1-p_i) with the four rate logs "
    "computed ONCE via the engine-portable ratio-ln (bit-identical "
    "doubles both engines); entering a burst costs gamma*ln(n). Optimal "
    "per-day labels come from the forward+backward Viterbi decomposition "
    "(label 1 iff fwd1+bwd1 < fwd0+bwd0, strict so ties prefer q0), "
    "both passes statically unrolled to a 40-step bound with carry-"
    "through guards (the calendar spans 30 days at every SF; DuckDB "
    "CTEs MATERIALIZED per the k-core rule). Output is integer-only — "
    "all float work is internal and identically ordered. SCALE: the DP "
    "runs on the calendar-bounded DAILY frame (one map-side "
    "pre-aggregation of the raw scan); per-step frames are one row",
    tags=("events", "timeseries", "burst", "anomaly"),
)
def q_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.functions.portable_math import (
        portable_ln_ratio,
    )

    e = events_table(spark, sf_dir)
    dd0 = e.groupBy(F.expr("ep div 86400").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == _BURST_TYPE, 1).otherwise(0)
        ).cast("bigint").alias("r0"),
        F.count(F.lit(1)).cast("bigint").alias("d0"),
    )
    hot = F.col("rnk").between(_BURST_LO, _BURST_HI)
    dd = dd0.select(
        "day", "r0", "d0",
        F.row_number().over(Window.orderBy("day")).alias("rnk"),
    ).select(
        "day",
        F.when(hot, 3 * F.col("r0")).otherwise(F.col("r0")).alias("r"),
        F.when(hot, F.col("d0") + 2 * F.col("r0")).otherwise(F.col("d0")).alias("d"),
    )
    cst = dd.agg(
        F.sum("r").cast("bigint").alias("rr"),
        F.sum("d").cast("bigint").alias("tt"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    lns = cst.select(
        "n",
        portable_ln_ratio(F.col("rr"), F.col("tt")).alias("lnp0"),
        portable_ln_ratio(F.col("tt") - F.col("rr"), F.col("tt")).alias("ln1mp0"),
        portable_ln_ratio(2 * F.col("rr"), F.col("tt")).alias("lnp1"),
        portable_ln_ratio(F.col("tt") - 2 * F.col("rr"), F.col("tt")).alias("ln1mp1"),
        (F.lit(_BURST_GAMMA) * portable_ln_ratio(F.col("n"), F.lit(1))).alias("b"),
    )
    days = dd.crossJoin(F.broadcast(lns)).select(
        F.row_number().over(Window.orderBy("day")).alias("i"),
        "day", "r", "d", "b",
        (
            -(
                (F.col("r").cast("double") * F.col("lnp0"))
                + ((F.col("d") - F.col("r")).cast("double") * F.col("ln1mp0"))
            )
        ).alias("e0"),
        (
            -(
                (F.col("r").cast("double") * F.col("lnp1"))
                + ((F.col("d") - F.col("r")).cast("double") * F.col("ln1mp1"))
            )
        ).alias("e1"),
    )
    # one-row frame: the whole bounded day series as a sorted struct array,
    # then the Viterbi recurrence unrolls as chained one-row projections
    # (each step an aliased attribute — Catalyst keeps the tree linear)
    row = days.agg(
        F.sort_array(
            F.collect_list(F.struct("i", "day", "r", "d", "e0", "e1"))
        ).alias("seq"),
        F.max("b").alias("b"),
    )
    # ONE F.aggregate fold per pass instead of unrolled projections
    # (multi-field struct state is safe in Spark's aggregate — every
    # field reads the OLD accumulator; the DuckDB fold-mutation gotcha
    # is why the ORACLE side stays unrolled CTEs). The oracle's 40-step
    # pad is unnecessary here: folding exactly n steps yields identical
    # fwd values at t <= n, and the pad rows carry g_n = (0,0) unchanged.
    el1 = F.get("seq", 0)
    b = F.col("b")

    def pair(c0, c1):
        return F.struct(c0.alias("c0"), c1.alias("c1"))

    fwd_init = F.struct(
        el1["e0"].alias("c0"),
        (el1["e1"] + b).alias("c1"),
        F.array(pair(el1["e0"], el1["e1"] + b)).alias("arr"),
    )

    def fwd_merge(acc, x):
        nf0 = x["e0"] + F.least(acc["c0"], acc["c1"])
        nf1 = x["e1"] + F.least(acc["c0"] + b, acc["c1"])
        return F.struct(
            nf0.alias("c0"),
            nf1.alias("c1"),
            F.concat(acc["arr"], F.array(pair(nf0, nf1))).alias("arr"),
        )

    zero = F.lit(0.0)
    bwd_init = F.struct(
        zero.alias("c0"),
        zero.alias("c1"),
        F.array(pair(zero, zero)).alias("arr"),
    )

    def bwd_merge(acc, x):
        ng0 = F.least(acc["c0"] + x["e0"], (acc["c1"] + x["e1"]) + b)
        ng1 = F.least(acc["c0"] + x["e0"], acc["c1"] + x["e1"])
        return F.struct(
            ng0.alias("c0"),
            ng1.alias("c1"),
            F.concat(F.array(pair(ng0, ng1)), acc["arr"]).alias("arr"),
        )

    tail = F.slice("seq", 2, F.size("seq") - 1)
    row = row.select(
        "seq",
        F.aggregate(tail, fwd_init, fwd_merge)["arr"].alias("farr"),
        F.aggregate(F.reverse(tail), bwd_init, bwd_merge)["arr"].alias("garr"),
    )
    labels = row.select(
        "seq", "farr", "garr",
        F.explode(F.sequence(F.lit(1), F.size("seq"))).alias("t"),
    )
    fe = F.get("farr", F.col("t") - 1)
    ge = F.get("garr", F.col("t") - 1)
    el = F.get("seq", F.col("t") - 1)
    return labels.select(
        el["day"].alias("day"),
        el["r"].alias("n_type"),
        el["d"].alias("n_total"),
        F.when(
            (fe["c1"] + ge["c1"]) < (fe["c0"] + ge["c0"]), 1
        ).otherwise(0).alias("burst"),
    ).orderBy("day")


# --- robust seasonal decomposition (trend + dow season + residual anomalies) ----

@register(
    "q_seasonal_decompose",
    oracle=f"""
    WITH e AS (SELECT {_EPOCH_DUCK} AS ep, value FROM events),
    days AS (
      SELECT ep // 86400 AS day,
             CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) * 1000000
                  AS BIGINT) AS y
      FROM e GROUP BY ep // 86400),
    tr AS (
      SELECT day, y,
             CAST(SUM(y) OVER w AS BIGINT) AS s7,
             CAST(COUNT(*) OVER w AS BIGINT) AS c7
      FROM days
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (
      SELECT day, y, CAST((2 * s7 + c7) // (2 * c7) AS BIGINT) AS trend,
             y - (2 * s7 + c7) // (2 * c7) AS d,
             CAST(day % 7 AS INTEGER) AS dow
      FROM tr WHERE c7 = 7),
    sea AS (
      SELECT dow, d AS seasonal FROM (
        SELECT dow, d,
               ROW_NUMBER() OVER (PARTITION BY dow ORDER BY d, day) AS rn,
               COUNT(*) OVER (PARTITION BY dow) AS cnt
        FROM det)
      WHERE rn = (cnt + 1) // 2),
    res AS (
      SELECT det.day, det.y, det.trend, sea.seasonal,
             det.d - sea.seasonal AS resid
      FROM det JOIN sea ON det.dow = sea.dow),
    med AS (
      SELECT resid AS m FROM (
        SELECT resid, ROW_NUMBER() OVER (ORDER BY resid, day) AS rn,
               COUNT(*) OVER () AS cnt
        FROM res) WHERE rn = (cnt + 1) // 2),
    mad AS (
      SELECT av AS mad FROM (
        SELECT ABS(resid - (SELECT m FROM med)) AS av,
               ROW_NUMBER() OVER (ORDER BY ABS(resid - (SELECT m FROM med)),
                                  day) AS rn,
               COUNT(*) OVER () AS cnt
        FROM res) WHERE rn = (cnt + 1) // 2)
    SELECT day, y AS y_micro, trend AS trend_micro,
           seasonal AS seasonal_micro, resid AS resid_micro,
           CASE WHEN 6745 * ABS(resid - (SELECT m FROM med))
                     > 35000 * (SELECT mad FROM mad)
                THEN 1 ELSE 0 END AS is_anomaly
    FROM res ORDER BY day
    """,
    description="robust seasonal decomposition of the daily value series "
    "(the STL-shaped additive split every TS anomaly pipeline starts "
    "from, beside CUSUM and rolling z-scores): trend = centered 7-day "
    "moving average (full windows only, round-half-away micro), "
    "seasonal = per-day-of-week RANK-PICK median of the detrended "
    "values, residual = y - trend - seasonal, anomaly flag = the "
    "Iglewicz-Hoaglin modified z-score (0.6745*|resid - med| > 3.5*MAD, "
    "as the exact integer comparison 6745*|r-med| > 35000*MAD) — every "
    "statistic an exact "
    "integer rank-pick with unique tiebreaks, ZERO divisions beyond "
    "the one trend mean, no float anywhere. SCALE: the raw scan "
    "pre-aggregates map-side to the calendar-bounded daily frame; all "
    "windows run on ~365 rows; at unbounded key cardinality each "
    "per-key series partitions independently",
    tags=("events", "timeseries", "decomposition", "anomaly"),
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = _daily_sums(spark, sf_dir, "y")
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    tr = days.select(
        "day", "y",
        F.sum("y").over(w7).cast("bigint").alias("s7"),
        F.count(F.lit(1)).over(w7).cast("bigint").alias("c7"),
    )
    det = (
        tr.where(F.col("c7") == 7)
        .selectExpr(
            "day", "y",
            "CAST((2 * s7 + c7) div (2 * c7) AS BIGINT) AS trend",
            "y - (2 * s7 + c7) div (2 * c7) AS d",
            "CAST(day % 7 AS INT) AS dow",
        )
        # persist (NOT localCheckpoint): both avoid recomputing the frame
        # for its two consumers (sea + res), but persist keeps the
        # InMemoryRelation's cached plan visible, so the plan classifier
        # can SEE the calendar-bounded day rollup below the global-window
        # exchanges (round-7 VERDICT #4 — this query leaves the plan-guard
        # hand allowlist).
        .persist()
    )
    wd = Window.partitionBy("dow").orderBy("d", "day")
    sea = (
        det.select(
            "dow", "d",
            F.row_number().over(wd).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("dow")).alias("cnt"),
        )
        .where(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select("dow", F.col("d").alias("seasonal"))
    )
    res = det.join(F.broadcast(sea), "dow").select(
        "day", "y", "trend", "seasonal",
        (F.col("d") - F.col("seasonal")).alias("resid"),
    ).persist()  # feeds med + mad + final (plan stays classifier-visible)
    wg = Window.orderBy("resid", "day")
    med = (
        res.select(
            "resid",
            F.row_number().over(wg).alias("rn"),
            F.count(F.lit(1)).over(
                Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ).alias("cnt"),
        )
        .where(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select(F.col("resid").alias("m"))
    )
    withm = res.crossJoin(F.broadcast(med))
    wa = Window.orderBy(F.abs(F.col("resid") - F.col("m")), "day")
    mad = (
        withm.select(
            F.abs(F.col("resid") - F.col("m")).alias("av"),
            F.row_number().over(wa).alias("rn"),
            F.count(F.lit(1)).over(
                Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ).alias("cnt"),
        )
        .where(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select(F.col("av").alias("mad"))
    )
    return (
        withm.crossJoin(F.broadcast(mad))
        .select(
            "day",
            F.col("y").alias("y_micro"),
            F.col("trend").alias("trend_micro"),
            F.col("seasonal").alias("seasonal_micro"),
            F.col("resid").alias("resid_micro"),
            F.when(
                6745 * F.abs(F.col("resid") - F.col("m"))
                > 35000 * F.col("mad"),
                1,
            ).otherwise(0).alias("is_anomaly"),
        )
        .orderBy("day")
    )


# --- Shapley-value multi-touch attribution ---------------------------------------

# n=3 channels: 3! * w(|S|) = |S|!(n-1-|S|)! = [2, 1, 1, 2][popcount(S)]
_SHAP_COEF = "CASE WHEN {s} = 0 THEN 2 WHEN {s} IN (3, 5, 6) THEN 2 ELSE 1 END"


@register(
    "q_shapley_attribution",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, event_type, {_EPOCH_DUCK} AS ep FROM events),
    j AS (
      SELECT user_id, event_type,
             COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ep, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS journey
      FROM e),
    js AS (
      SELECT user_id, journey,
             CAST(COALESCE(bit_or(CASE event_type
                    WHEN 'click' THEN 1 WHEN 'view' THEN 2
                    WHEN 'signup' THEN 4 ELSE 0 END), 0) AS INTEGER) AS mask,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM j GROUP BY user_id, journey),
    st AS (
      SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_s,
             CAST(SUM(conv) AS BIGINT) AS c_s
      FROM js GROUP BY mask),
    ch AS (SELECT * FROM (VALUES ('click', 1), ('view', 2), ('signup', 4))
           AS t(channel, bit)),
    terms AS (
      SELECT ch.channel, u.s AS sub,
             CAST({_SHAP_COEF.format(s='u.s')} AS BIGINT) AS f,
             COALESCE(w.c_s, 0) AS c1, COALESCE(w.n_s, 1) AS n1,
             COALESCE(o.c_s, 0) AS c2, COALESCE(o.n_s, 1) AS n2
      FROM ch CROSS JOIN (SELECT unnest(range(0, 8)) AS s) u
      LEFT JOIN st w ON w.mask = (u.s | ch.bit)
      LEFT JOIN st o ON o.mask = u.s
      WHERE (u.s & ch.bit) = 0),
    tm AS (
      SELECT channel,
             f * (c1 * n2 - c2 * n1) AS num, 6 * n1 * n2 AS den
      FROM terms)
    SELECT channel,
           CAST(SUM(CASE WHEN num >= 0
                 THEN (2 * 1000000 * num + den) // (2 * den)
                 ELSE -((2 * 1000000 * (-num) + den) // (2 * den))
                 END) AS BIGINT) AS shapley_micro
    FROM tm GROUP BY channel ORDER BY channel
    """,
    description="Shapley-value multi-touch attribution (the game-theoretic "
    "data-driven model beside q_attribution's positional ones; Shapley "
    "1953 applied to conversion credit): journeys segmented exactly like "
    "q_attribution, each journey's coalition = the SET of channels "
    "touched (3 channels -> 8 coalitions), v(S) = observed conversion "
    "rate of journeys with that exact touch set (missing sets count 0), "
    "and each channel's credit is the exact Shapley sum over the 4 "
    "subsets of the other two channels with |S|!(2-|S|)!/3! weights — "
    "every marginal is an exact rational, each term emitted as SIGNED "
    "round-half-away micro before the exact integer sum (the decimal-"
    "contribution convention). SCALE: one user-keyed journey window + "
    "one 8-row coalition rollup; the Shapley combinatorics run on a "
    "12-row literal frame, constant in data volume (n channels bounds "
    "the game, not the data)",
    tags=("events", "attribution", "shapley", "game-theory"),
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ep", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    j = e.select(
        "user_id", "event_type",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w),
            F.lit(0),
        ).alias("journey"),
    )
    js = j.groupBy("user_id", "journey").agg(
        F.coalesce(F.expr(
            "bit_or(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2 "
            "WHEN 'signup' THEN 4 ELSE 0 END)"
        ), F.lit(0)).cast("int").alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    st = js.groupBy("mask").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s"),
        F.sum("conv").cast("bigint").alias("c_s"),
    )
    ch = spark.sql(
        "SELECT * FROM VALUES ('click', 1), ('view', 2), ('signup', 4) "
        "AS t(channel, bit)"
    )
    subs = spark.range(8).select(F.col("id").cast("int").alias("s"))
    wst = st.select(
        F.col("mask").alias("w_mask"),
        F.col("n_s").alias("n1"),
        F.col("c_s").alias("c1"),
    )
    ost = st.select(
        F.col("mask").alias("o_mask"),
        F.col("n_s").alias("n2"),
        F.col("c_s").alias("c2"),
    )
    terms = (
        ch.crossJoin(F.broadcast(subs))
        .where(F.expr("(s & bit) = 0"))
        .join(F.broadcast(wst), F.expr("w_mask = (s | bit)"), "left")
        .join(F.broadcast(ost), F.expr("o_mask = s"), "left")
        .select(
            "channel",
            F.expr(_SHAP_COEF.format(s="s")).cast("bigint").alias("f"),
            F.coalesce("c1", F.lit(0)).alias("c1"),
            F.coalesce("n1", F.lit(1)).alias("n1"),
            F.coalesce("c2", F.lit(0)).alias("c2"),
            F.coalesce("n2", F.lit(1)).alias("n2"),
        )
        .selectExpr(
            "channel",
            "f * (c1 * n2 - c2 * n1) AS num",
            "6 * n1 * n2 AS den",
        )
    )
    return (
        terms.groupBy("channel")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN num >= 0 "
                "THEN (2 * 1000000 * num + den) div (2 * den) "
                "ELSE -((2 * 1000000 * (-num) + den) div (2 * den)) "
                "END) AS BIGINT)"
            ).alias("shapley_micro")
        )
        .orderBy("channel")
    )


# --- Holt-Winters triple exponential smoothing ----------------------------------

_HW_PAD = 40
_HW_M = 7        # weekly additive seasonality over the daily frame
_HW_A = 0.5      # level
_HW_B = 0.3      # trend
_HW_G = 0.4      # season


def _hw_oracle() -> str:
    A, B, G = _HW_A, _HW_B, _HW_G
    mA, mB, mG = 1.0 - A, 1.0 - B, 1.0 - G

    def scase(sp: str, dp: str) -> str:
        arms = " ".join(f"WHEN {j} THEN {sp}.s{j}" for j in range(_HW_M))
        return f"(CASE {dp}.dow {arms} END)"

    head = f"""
    WITH e AS (SELECT {_EPOCH_DUCK} AS ep, value FROM events),
    dd AS (
      SELECT ep // 86400 AS day,
             CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) * 1000000
                  AS BIGINT) AS y
      FROM e GROUP BY ep // 86400),
    days AS MATERIALIZED (
      SELECT day, y, CAST(y AS DOUBLE) AS yd,
             CAST(day % {_HW_M} AS INTEGER) AS dow,
             ROW_NUMBER() OVER (ORDER BY day) AS i
      FROM dd)"""
    zeros = ", ".join(f"0.0 AS s{j}" for j in range(_HW_M))
    ctes = [head.strip()]
    ctes.append(
        f"h1 AS MATERIALIZED (SELECT d.yd AS l, 0.0 AS b, {zeros}, "
        f"d.yd AS lvl, 0.0 AS trd, 0.0 AS sea, d.yd AS fit "
        f"FROM days d WHERE d.i = 1)"
    )
    for t in range(2, _HW_PAD + 1):
        s_upd = ",\n             ".join(
            f"CASE WHEN w.di IS NULL THEN w.s{j} "
            f"WHEN w.dow = {j} THEN {G!r} * (w.yd - w.l_new) + {mG!r} * w.s{j} "
            f"ELSE w.s{j} END AS s{j}"
            for j in range(_HW_M)
        )
        ctes.append(
            f"""h{t} AS MATERIALIZED (
      SELECT CASE WHEN w.di IS NULL THEN w.l ELSE w.l_new END AS l,
             CASE WHEN w.di IS NULL THEN w.b
                  ELSE {B!r} * (w.l_new - w.l) + {mB!r} * w.b END AS b,
             {s_upd},
             w.l_new AS lvl,
             CASE WHEN w.di IS NULL THEN w.b
                  ELSE {B!r} * (w.l_new - w.l) + {mB!r} * w.b END AS trd,
             CASE WHEN w.di IS NULL THEN CAST(NULL AS DOUBLE)
                  ELSE {G!r} * (w.yd - w.l_new) + {mG!r} * w.sdow END AS sea,
             CASE WHEN w.di IS NULL THEN CAST(NULL AS DOUBLE)
                  ELSE (w.l + w.b) + w.sdow END AS fit
      FROM (
        SELECT v.*,
               ({A!r} * (v.yd - v.sdow) + {mA!r} * (v.l + v.b)) AS l_new
        FROM (
          SELECT p.*, d.i AS di, d.yd, d.dow, {scase('p', 'd')} AS sdow
          FROM h{t - 1} p LEFT JOIN days d ON d.i = {t}) v) w)"""
        )
    union = " UNION ALL ".join(
        f"SELECT {t} AS t, lvl, trd, sea, fit FROM h{t}"
        for t in range(1, _HW_PAD + 1)
    )
    ctes.append(f"u AS ({union})")
    return (
        ",\n    ".join(ctes)
        + """
    SELECT d.day, d.y AS y_micro, u.lvl AS level, u.trd AS trend,
           u.sea AS seasonal, u.fit AS fitted
    FROM u JOIN days d ON d.i = u.t ORDER BY d.day"""
    )


@register(
    "q_holt_winters",
    oracle=_hw_oracle(),
    description="Holt-Winters additive triple exponential smoothing "
    "(level + trend + weekly additive season, alpha/beta/gamma = "
    ".5/.3/.4) over the daily event-value series — completes the "
    "smoothing family beside q_ewma and q_double_exp_smoothing: "
    "l_t = a(y_t - s_dow) + (1-a)(l+b), b_t = B(l_t - l) + (1-B)b, "
    "s_dow = G(y_t - l_t) + (1-G)s_dow, init l=y_1, b=0, s=0 "
    "(convention documented); per-day one-step-ahead fitted = "
    "(l + b) + s_dow. The three recurrences interact, so the chained-"
    "single-field-EWMA trick (q_double_exp_smoothing) cannot apply; "
    "the oracle statically unrolls 40 guarded one-row MATERIALIZED "
    "CTEs (the q_burst_detection pattern) while Spark folds the "
    "bounded day array with ONE F.aggregate (multi-field struct state "
    "— safe on Spark; the fold-mutation gotcha is DuckDB's). Every "
    "float op is identically ordered on both engines, outputs are "
    "passthrough doubles. SCALE: the DP runs on the calendar-bounded "
    "DAILY rollup after one map-side pre-aggregation",
    tags=("events", "timeseries", "smoothing", "forecast"),
)
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    A, B, G = _HW_A, _HW_B, _HW_G
    mA, mB, mG = 1.0 - A, 1.0 - B, 1.0 - G
    dd = _daily_sums(spark, sf_dir, "y")
    days = dd.select(
        "day", "y",
        F.col("y").cast("double").alias("yd"),
        (F.col("day") % _HW_M).cast("int").alias("dow"),
        F.row_number().over(Window.orderBy("day")).alias("i"),
    )
    row = days.agg(
        F.sort_array(
            F.collect_list(F.struct("i", "day", "y", "yd", "dow"))
        ).alias("seq")
    )
    el1 = F.get("seq", 0)
    zero = F.lit(0.0)

    def out_row(lvl, trd, sea, fit):
        return F.struct(
            lvl.alias("lvl"), trd.alias("trd"), sea.alias("sea"), fit.alias("fit")
        )

    init = F.struct(
        el1["yd"].alias("l"),
        zero.alias("b"),
        F.array_repeat(zero, _HW_M).alias("s"),
        F.array(out_row(el1["yd"], zero, zero, el1["yd"])).alias("out"),
    )

    def merge(acc, x):
        sdow = F.get(acc["s"], x["dow"])
        l_new = F.lit(A) * (x["yd"] - sdow) + F.lit(mA) * (acc["l"] + acc["b"])
        b_new = F.lit(B) * (l_new - acc["l"]) + F.lit(mB) * acc["b"]
        sea = F.lit(G) * (x["yd"] - l_new) + F.lit(mG) * sdow
        fit = (acc["l"] + acc["b"]) + sdow
        s_new = F.transform(
            acc["s"],
            lambda el, i: F.when(i == x["dow"], sea).otherwise(el),
        )
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            s_new.alias("s"),
            F.concat(acc["out"], F.array(out_row(l_new, b_new, sea, fit))).alias("out"),
        )

    tail = F.slice("seq", 2, F.size("seq") - 1)
    row = row.select("seq", F.aggregate(tail, init, merge)["out"].alias("out"))
    lab = row.select(
        "seq", "out",
        F.explode(F.sequence(F.lit(1), F.size("seq"))).alias("t"),
    )
    el = F.get("seq", F.col("t") - 1)
    ot = F.get("out", F.col("t") - 1)
    return lab.select(
        el["day"].alias("day"),
        el["y"].alias("y_micro"),
        ot["lvl"].alias("level"),
        ot["trd"].alias("trend"),
        ot["sea"].alias("seasonal"),
        ot["fit"].alias("fitted"),
    ).orderBy("day")


# --- isotonic regression (closed-form minimax, no PAVA iteration) ---------------

@register(
    "q_isotonic_fit",
    oracle=f"""
    WITH e AS (SELECT {_EPOCH_DUCK} AS ep, value FROM events),
    days AS (
      SELECT ep // 86400 AS day,
             CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) * 1000000
                  AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM e GROUP BY ep // 86400),
    idx AS (
      SELECT day, (2 * s + c) // (2 * c) AS y,
             ROW_NUMBER() OVER (ORDER BY day) AS i
      FROM days),
    pre AS (
      SELECT day, y, i,
             CAST(SUM(y) OVER (ORDER BY i
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM idx),
    iv AS (
      SELECT a.i AS j, b.i AS k, b.day AS day_k, b.y AS y_k,
             CAST(b.cum - a.cum + a.y AS DOUBLE)
               / CAST(b.i - a.i + 1 AS DOUBLE) AS avg_jk
      FROM pre a JOIN pre b ON b.i >= a.i),
    sm AS (
      SELECT j, k, day_k, y_k,
             MIN(avg_jk) OVER (PARTITION BY j ORDER BY k DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sufmin
      FROM iv)
    SELECT day_k AS day, y_k AS y_micro, MAX(sufmin) AS fit
    FROM sm GROUP BY day_k, y_k ORDER BY day
    """,
    description="isotonic (non-decreasing L2) regression of the daily mean "
    "event value — the calibration primitive for classifier scores (pairs "
    "with q_classifier_eval): computed by the CLOSED-FORM minimax identity "
    "fit_i = max_{{j<=i}} min_{{k>=i}} avg(y[j..k]) (Barlow et al. 1972) "
    "instead of iterative pool-adjacent-violators — one self-join over the "
    "day-indexed frame builds every interval average from exact integer "
    "prefix sums (ONE IEEE division each), a per-j descending-k running "
    "MIN window forms the suffix minima, and a per-i MAX rollup finishes; "
    "zero iteration, no convergence state. Daily y is the round-half-away "
    "micro mean ((2s+c) div 2c). SCALE: the O(n^2) interval frame is "
    "calendar-bounded (~365 days at any event volume; raw events touched "
    "once, map-side); an unbounded-key variant would block PAVA by range "
    "partition and merge boundary blocks — documented, not needed here",
    tags=("events", "stats", "isotonic", "calibration"),
)
def q_isotonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    days = (
        e.groupBy(F.expr("ep div 86400").alias("day"))
        .agg(
            _micro_value_sum().alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("c"),
        )
    )
    idx = days.select(
        "day",
        F.expr("(2 * s + c) div (2 * c)").alias("y"),
        F.row_number().over(Window.orderBy("day")).alias("i"),
    )
    pre = idx.select(
        "day", "y", "i",
        F.sum("y")
        .over(Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum"),
    ).localCheckpoint()  # feeds both join sides; avoid scan re-execution
    a = pre.select(
        F.col("i").alias("j"),
        F.col("cum").alias("cum_a"),
        F.col("y").alias("y_a"),
    )
    b = pre.select(
        F.col("i").alias("k"),
        F.col("day").alias("day_k"),
        F.col("y").alias("y_k"),
        F.col("cum").alias("cum_b"),
    )
    iv = a.join(F.broadcast(b), F.col("k") >= F.col("j")).select(
        "j", "k", "day_k", "y_k",
        (
            (F.col("cum_b") - F.col("cum_a") + F.col("y_a")).cast("double")
            / (F.col("k") - F.col("j") + 1).cast("double")
        ).alias("avg_jk"),
    )
    sm = iv.select(
        "j", "k", "day_k", "y_k",
        F.min("avg_jk")
        .over(
            Window.partitionBy("j")
            .orderBy(F.desc("k"))
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("sufmin"),
    )
    return (
        sm.groupBy("k", "day_k", "y_k")
        .agg(F.max("sufmin").alias("fit"))
        .select(
            F.col("day_k").alias("day"),
            F.col("y_k").alias("y_micro"),
            "fit",
        )
        .orderBy("day")
    )


# --- deterministic bootstrap confidence interval --------------------------------

_BOOT_B = 64  # replicates


@register(
    "q_bootstrap_ci",
    oracle=_DAILY_SUMS_DUCK + f"""
    idx AS (SELECT s, ROW_NUMBER() OVER (ORDER BY day) AS i,
                   COUNT(*) OVER () AS n
            FROM days),
    draws AS (
      SELECT b.b, t.i AS pos,
             CAST(('0x' || substr(md5('boot:' || CAST(b.b AS VARCHAR) || ':'
                                       || CAST(t.i AS VARCHAR)), 1, 12))
                  AS BIGINT) % (SELECT MAX(n) FROM idx) + 1 AS pick
      FROM (SELECT UNNEST(range(0, {_BOOT_B})) AS b) b
      CROSS JOIN (SELECT i FROM idx) t),
    means AS (
      SELECT d.b, CAST(SUM(x.s) AS BIGINT) AS tot,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM draws d JOIN idx x ON d.pick = x.i
      GROUP BY d.b),
    rm AS (
      SELECT b, (2 * tot + n) // (2 * n) AS mean_micro,
             ROW_NUMBER() OVER (ORDER BY (2 * tot + n) // (2 * n), b) AS rn
      FROM means)
    SELECT
      (SELECT mean_micro FROM rm WHERE rn = 2) AS ci_lo_micro,
      (SELECT mean_micro FROM rm WHERE rn = {_BOOT_B - 1}) AS ci_hi_micro,
      (SELECT CAST((2 * SUM(s) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) FROM days)
        AS sample_mean_micro,
      CAST({_BOOT_B} AS INTEGER) AS n_replicates
    """,
    description="deterministic seeded bootstrap CI for the mean daily "
    "event value (Efron resampling with md5-derived draw indices — no "
    "RNG state, partitioning-invariant, resumable like q_epoch_shuffle): "
    "64 replicates resample the daily frame WITH replacement via a "
    "content-hash pick per (replicate, position), replicate means are "
    "exact round-half-away micro integers, and the ~95% interval is a "
    "rank-pick (2nd / 63rd order statistic — percentile_disc convention). "
    "SCALE: the resample join fans out B x |days| rows over the DAILY "
    "rollup (calendar-bounded, constant in event volume), never raw "
    "events; replicate means aggregate map-side",
    tags=("events", "stats", "bootstrap"),
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = _daily_sums(spark, sf_dir, "s")
    idx = days.select(
        "s",
        F.row_number().over(Window.orderBy("day")).alias("i"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    ).localCheckpoint()
    b = spark.range(_BOOT_B).select(F.col("id").cast("int").alias("b"))
    draws = (
        F.broadcast(b)
        .crossJoin(idx.select("i", "n"))
        .select(
            "b",
            (
                F.expr(
                    "CAST(conv(substr(md5('boot:' || CAST(b AS STRING) || ':'"
                    " || CAST(i AS STRING)), 1, 12), 16, 10) AS BIGINT)"
                )
                % F.col("n")
                + 1
            ).alias("pick"),
        )
    )
    means = (
        draws.join(idx.select(F.col("i").alias("pick"), "s"), "pick")
        .groupBy("b")
        .agg(
            F.sum("s").cast("bigint").alias("tot"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    rm = means.select(
        "b",
        F.expr("(2 * tot + n) div (2 * n)").alias("mean_micro"),
    ).select(
        "mean_micro",
        F.row_number().over(Window.orderBy("mean_micro", "b")).alias("rn"),
    )
    lo = rm.where(F.col("rn") == 2).select(F.col("mean_micro").alias("ci_lo_micro"))
    hi = rm.where(F.col("rn") == _BOOT_B - 1).select(
        F.col("mean_micro").alias("ci_hi_micro")
    )
    sm = days.agg(
        F.expr("(2 * SUM(s) + COUNT(*)) div (2 * COUNT(*))").alias("sample_mean_micro")
    )
    return (
        lo.crossJoin(F.broadcast(hi)).crossJoin(F.broadcast(sm))
        .select(
            "ci_lo_micro", "ci_hi_micro", "sample_mean_micro",
            F.lit(_BOOT_B).cast("int").alias("n_replicates"),
        )
    )


def _kendall_oracle() -> str:
    return f"""
    WITH e AS (SELECT {_EPOCH_DUCK} AS ep, value FROM events),
    days AS (
      SELECT ep // 86400 AS day,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) * 1000000
                  AS BIGINT) AS y
      FROM e GROUP BY ep // 86400),
    pairs AS (
      SELECT (CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END)
             * (CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END)
             AS cd
      FROM days a JOIN days b ON b.day > a.day),
    st AS (SELECT CAST(COALESCE(SUM(cd), 0) AS BIGINT) AS s FROM pairs),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM days),
    tx AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) // 2), 0) AS BIGINT) AS n1
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM days GROUP BY x)
      WHERE t > 1),
    ty AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) // 2), 0) AS BIGINT) AS n2
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM days GROUP BY y)
      WHERE t > 1)
    SELECT s AS concordant_minus_discordant, n AS n_days,
           ROUND(CAST(s AS DOUBLE)
                 / sqrt(CAST(n * (n - 1) // 2 - n1 AS DOUBLE)
                        * CAST(n * (n - 1) // 2 - n2 AS DOUBLE)), 6) AS tau_b
    FROM st CROSS JOIN nn CROSS JOIN tx CROSS JOIN ty
    """


@register(
    "q_kendall_tau",
    oracle=_kendall_oracle(),
    description="Kendall tau-b rank correlation between daily event count "
    "and daily value total (the remaining member of the rank-correlation "
    "family beside q_spearman_corr; Kendall 1938, tau-b tie correction): "
    "S = C - D as an EXACT integer sum of sign-products over day pairs, "
    "tie terms n1/n2 = sum t(t-1)/2 per tied group as exact integers, "
    "tau_b = S / sqrt((n0-n1)(n0-n2)) with the only floats being the "
    "final division/sqrt on identical exact operands. SCALE: the O(n^2) "
    "pair term runs on the calendar-bounded DAILY rollup (~365 rows at "
    "any data volume — same envelope as q_theil_sen/q_mann_kendall) "
    "after one map-side pre-aggregation of the raw scan; for an "
    "UNBOUNDED key frame the numerator is computable in O(n log n) as "
    "n0 - n1 - n2 + n_xy - 2*inversions(y ordered by x) via distributed "
    "merge-sort inversion counting (sort by x, then per-partition "
    "inversion counts + boundary merge) — documented here as the scale "
    "path, not needed on a bounded frame",
    tags=("events", "stats", "correlation", "trend"),
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    days = (
        e.groupBy(F.expr("ep div 86400").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("x"),
            _micro_value_sum().alias("y"),
        )
        .localCheckpoint()  # days feeds 4 consumers; avoid scan re-execution
    )
    a = days.select(F.col("day").alias("i"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = days.select(F.col("day").alias("j"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    sgx = (
        F.when(F.col("xb") > F.col("xa"), 1)
        .when(F.col("xb") < F.col("xa"), -1)
        .otherwise(0)
    )
    sgy = (
        F.when(F.col("yb") > F.col("ya"), 1)
        .when(F.col("yb") < F.col("ya"), -1)
        .otherwise(0)
    )
    pairs = a.join(F.broadcast(b), F.col("j") > F.col("i")).select(
        (sgx * sgy).alias("cd")
    )
    st = pairs.agg(
        F.coalesce(F.sum("cd"), F.lit(0)).cast("bigint").alias("s")
    )
    nn = days.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    def tie_term(col: str, alias: str) -> DataFrame:
        return (
            days.groupBy(col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
            .where(F.col("t") > 1)
            .agg(
                F.coalesce(
                    F.sum(F.expr("t * (t - 1) div 2")), F.lit(0)
                ).cast("bigint").alias(alias)
            )
        )

    n0 = F.expr("n * (n - 1) div 2")
    return (
        st.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(tie_term("x", "n1")))
        .crossJoin(F.broadcast(tie_term("y", "n2")))
        .select(
            F.col("s").alias("concordant_minus_discordant"),
            F.col("n").alias("n_days"),
            F.round(
                F.col("s").cast("double")
                / F.sqrt(
                    (n0 - F.col("n1")).cast("double")
                    * (n0 - F.col("n2")).cast("double")
                ),
                6,
            ).alias("tau_b"),
        )
    )


# --- Mann-Kendall trend test ----------------------------------------------------

@register(
    "q_mann_kendall",
    oracle=_DAILY_SUMS_DUCK + f"""
    pairs AS (
      SELECT CASE WHEN b.s > a.s THEN 1 WHEN b.s < a.s THEN -1 ELSE 0 END AS sg
      FROM days a JOIN days b ON b.day > a.day),
    st AS (SELECT CAST(SUM(sg) AS BIGINT) AS s_stat FROM pairs),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM days),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM days GROUP BY s)
      WHERE t > 1)
    SELECT s_stat, n,
           ROUND(CASE
             WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                  / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie AS DOUBLE) / 18.0)
             WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                  / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie AS DOUBLE) / 18.0)
             ELSE 0.0 END, 6) AS z
    FROM st CROSS JOIN nn CROSS JOIN ties
    """,
    description="Mann-Kendall monotonic-trend test over the daily "
    "event-value series (the standard significance companion to the "
    "Theil-Sen slope; Mann 1945 / Kendall 1975): S = sum of pairwise "
    "signs as an EXACT integer, tie-corrected variance n(n-1)(2n+5)/18 - "
    "sum t(t-1)(2t+5)/18 from exact integer tie counts, z with the "
    "continuity correction — the only floats are the final division/sqrt "
    "on identical exact operands. SCALE: like q_theil_sen, the O(n^2) "
    "pair term runs on the calendar-bounded DAILY rollup (~365 rows at "
    "any data volume); the raw scan is one map-side pre-aggregation",
    tags=("events", "timeseries", "stats", "trend"),
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = _daily_sums(spark, sf_dir, "s").localCheckpoint()
    a = days.select(F.col("day").alias("i"), F.col("s").alias("sa"))
    b = days.select(F.col("day").alias("j"), F.col("s").alias("sb"))
    pairs = a.join(F.broadcast(b), F.col("j") > F.col("i")).select(
        F.when(F.col("sb") > F.col("sa"), 1)
        .when(F.col("sb") < F.col("sa"), -1)
        .otherwise(0)
        .alias("sg")
    )
    st = pairs.agg(F.sum("sg").cast("bigint").alias("s_stat"))
    nn = days.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        days.groupBy("s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            ).cast("bigint").alias("tie")
        )
    )
    var = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie")
    ).cast("double") / 18.0
    return (
        st.crossJoin(F.broadcast(nn)).crossJoin(F.broadcast(ties))
        .select(
            "s_stat", "n",
            F.round(
                F.when(
                    F.col("s_stat") > 0,
                    (F.col("s_stat") - 1).cast("double") / F.sqrt(var),
                )
                .when(
                    F.col("s_stat") < 0,
                    (F.col("s_stat") + 1).cast("double") / F.sqrt(var),
                )
                .otherwise(F.lit(0.0)),
                6,
            ).alias("z"),
        )
    )


# --- deterministic DP-style noisy counts ------------------------------------------

_DP_B = 2.0  # Laplace scale = sensitivity/epsilon = 1/0.5


@register(
    "q_dp_noisy_counts",
    oracle=f"""
    WITH c AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type),
    u AS (
      SELECT event_type, n,
             CAST(('0x' || substr(md5('dp:' || event_type), 1, 12)) AS BIGINT)
               - 140737488355328 AS ctr
      FROM c)
    SELECT event_type, n AS true_count,
           CAST(n AS DOUBLE)
             + (CASE WHEN ctr > 0 THEN -{_DP_B!r} WHEN ctr < 0 THEN {_DP_B!r}
                     ELSE 0.0 END)
               * (((2.0 * ((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0))) * (1.0 + (((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0)) * ((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0))) * (0.3333333333333333 + (((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0)) * ((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0))) * (0.2 + (((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0)) * ((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0))) * (0.14285714285714285 + (((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0)) * ((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0))) * (0.1111111111111111 + (((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0)) * ((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0))) * (0.09090909090909091 + (((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0)) * ((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0))) * (0.07692307692307693 + (((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0)) * ((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0))) * (0.06666666666666667 + (((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0)) * ((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0))) * (0.058823529411764705 + (((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0)) * ((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0))) * (0.05263157894736842 + (((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0)) * ((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0))) * (0.047619047619047616 + (((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0)) * ((((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) - 1.0) / (((CAST(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT) AS DOUBLE) / CAST(CAST(140737488355328 AS BIGINT) AS DOUBLE)) * (CASE WHEN CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) >= 0 THEN CAST((CAST(1 AS BIGINT) << CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT)) AS DOUBLE) ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT))) AS DOUBLE) END)) + 1.0))) * 0.043478260869565216)))))))))))) - CAST(CAST(((length(bin(CAST(140737488355328 AS BIGINT))) - 1) - (length(bin(CAST(GREATEST(140737488355328 - ABS(ctr), 1) AS BIGINT))) - 1)) AS INT) AS DOUBLE) * 0.6931471805599453) AS noisy_count
    FROM u ORDER BY event_type
    """,
    description="deterministic Laplace-mechanism noisy counts per event "
    "type (the differential-privacy release shape, epsilon=0.5, "
    "sensitivity 1 -> scale b=2; Dwork 2006): the uniform draw is an "
    "md5-derived 48-bit integer (seeded, partitioning-invariant — the "
    "q_bootstrap_ci no-RNG convention, so the pipeline is replayable "
    "and the oracle exact), inverse-CDF x = -b*sgn(u-.5)*ln(1-2|u-.5|) "
    "with the ln over an EXACT integer ratio via the engine-portable "
    "ratio-ln; the noisy count is a passthrough double (bit-identical "
    "both engines, no rounding at all). Deterministic seeding trades "
    "away the formal DP guarantee for replayability — documented; swap "
    "the seed source for true randomness in a real release. SCALE: one "
    "map-side rollup + per-group constant arithmetic",
    tags=("events", "privacy", "dp"),
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.functions.portable_math import (
        portable_ln_ratio,
    )

    e = events_table(spark, sf_dir)
    c = e.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    half = 1 << 47
    u = c.select(
        "event_type", "n",
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("dp:"), F.col("event_type"))), 1, 12), 16, 10)
            .cast("bigint")
            - F.lit(half)
        ).alias("ctr"),
    )
    ln = portable_ln_ratio(
        F.greatest(F.lit(half) - F.abs(F.col("ctr")), F.lit(1)), F.lit(half)
    )
    return u.select(
        "event_type",
        F.col("n").alias("true_count"),
        (
            F.col("n").cast("double")
            + F.when(F.col("ctr") > 0, F.lit(-_DP_B))
            .when(F.col("ctr") < 0, F.lit(_DP_B))
            .otherwise(F.lit(0.0))
            * ln
        ).alias("noisy_count"),
    ).orderBy("event_type")


# --- sequential pattern mining (bounded PrefixSpan-style support) ----------------

_SEQ_MINSUP = 3


@register(
    "q_sequential_patterns",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, {_EPOCH_DUCK} AS ep, event_id FROM events),
    r AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ep, event_id) AS pos
      FROM e),
    p2 AS (
      SELECT a.event_type AS e1, b.event_type AS e2,
             CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS support
      FROM r a JOIN r b
        ON a.user_id = b.user_id AND a.pos < b.pos
      GROUP BY e1, e2),
    p3 AS (
      SELECT a.event_type AS e1, b.event_type AS e2, c.event_type AS e3,
             CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS support
      FROM r a JOIN r b ON a.user_id = b.user_id AND a.pos < b.pos
      JOIN r c ON b.user_id = c.user_id AND b.pos < c.pos
      GROUP BY e1, e2, e3),
    u AS (
      SELECT e1 || '>' || e2 AS pattern, 2 AS len, support FROM p2
      UNION ALL
      SELECT e1 || '>' || e2 || '>' || e3, 3, support FROM p3)
    SELECT pattern, CAST(len AS INTEGER) AS len, support
    FROM u WHERE support >= {_SEQ_MINSUP}
    ORDER BY support DESC, pattern LIMIT 25
    """,
    description="sequential pattern mining (the PrefixSpan/SPAM support "
    "semantics, bounded to length 2-3): a pattern e1>e2(>e3) is "
    "supported by a user iff the events occur in that ORDER (gaps "
    "allowed — subsequence, not adjacency, unlike q_markov_transitions' "
    "bigrams), support = distinct supporting users, min-support 3, "
    "top-25. Implemented as position-ordered self-joins + COUNT "
    "DISTINCT — the pattern alphabet (5 event types) bounds the output "
    "to 150 rows regardless of volume. SCALE: joins are USER-keyed "
    "(co-partitioned, no cross-user pairs); per-user cost is bounded by "
    "events-per-user^2, the same envelope as the funnel family; for "
    "heavy users a per-user positional cap is the standard mitigation",
    tags=("events", "sequence", "mining"),
)
def q_sequential_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Greedy-subsequence formulation: a user supports e1>e2(>e3) iff the
    # greedy left-to-right match succeeds (p1 = first e1; p2 = first e2
    # after p1; any e3 after p2) — a classical equivalence for
    # subsequence EXISTENCE, so this computes the same support as the
    # oracle's positional self-joins WITHOUT the per-user cubic pair
    # fan-out (the first implementation measured 22 s at sf0.1).
    # Round-11 rewire: the former per-user position-MAP × 150-pattern
    # broadcast evaluated an interpreted filter/array lambda per (user,
    # pattern) row (~9 µs each — HOF lambdas do not codegen, the CDC
    # lesson; ~2 s of the 2.4 s wall). The greedy match is RELATIONAL
    # instead: one (user, type) first/last rollup, then
    #   supported (u, e1, e2) rows = events of type e2 after first(e1),
    #   one user-keyed join + min-rollup (p2 = the greedy second match);
    #   len-3 support = p2 rows joined against last(e3) > p2.
    # Every stage is codegen (no lambdas, no per-user arrays), joins are
    # user-keyed and hint-free (alphabet fan-out is a bounded ×5), and
    # the supported-pair frame doubles as the len-2 support count.
    e = events_table(spark, sf_dir)
    r = e.select(
        "user_id", "event_type",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ep", "event_id"))
        .alias("pos"),
    )
    fl = r.groupBy("user_id", "event_type").agg(
        F.min("pos").alias("first_pos"), F.max("pos").alias("last_pos")
    )
    # one row per supported (user, e1, e2): p2 = first e2 strictly after
    # the user's first e1 (row count bounded by |users| × alphabet²)
    p2 = (
        r.join(
            fl.select("user_id", F.col("event_type").alias("e1"), "first_pos"),
            "user_id",
        )
        .where(F.col("pos") > F.col("first_pos"))
        .groupBy("user_id", "e1", F.col("event_type").alias("e2"))
        .agg(F.min("pos").alias("p2"))
    )
    sup2 = (
        p2.groupBy("e1", "e2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .select(
            F.concat_ws(">", "e1", "e2").alias("pattern"),
            F.lit(2).alias("len"), "support",
        )
    )
    sup3 = (
        p2.join(
            fl.select("user_id", F.col("event_type").alias("e3"), "last_pos"),
            "user_id",
        )
        .where(F.col("last_pos") > F.col("p2"))
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .select(
            F.concat_ws(">", "e1", "e2", "e3").alias("pattern"),
            F.lit(3).alias("len"), "support",
        )
    )
    return (
        sup2.unionByName(sup3)
        .where(F.col("support") >= _SEQ_MINSUP)
        .select("pattern", F.col("len").cast("int").alias("len"), "support")
        .orderBy(F.desc("support"), "pattern")
        .limit(25)
    )


# --- stratified average treatment effect -------------------------------------------

_ATE_STRATA = 4


@register(
    "q_stratified_ate",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CASE WHEN SUM(CASE WHEN event_type = 'signup'
                           THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS t,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY user_id),
    s AS (
      SELECT user_id, t, y,
             NTILE({_ATE_STRATA}) OVER (ORDER BY n_events, user_id) AS d
      FROM u),
    g AS (
      SELECT d,
             CAST(COUNT(*) AS BIGINT) AS n_d,
             CAST(SUM(t) AS BIGINT) AS c_t,
             CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS s_t,
             CAST(SUM(1 - t) AS BIGINT) AS c_c,
             CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS s_c
      FROM s GROUP BY d),
    kept AS (SELECT * FROM g WHERE c_t > 0 AND c_c > 0),
    nn AS (SELECT CAST(SUM(n_d) AS BIGINT) AS n FROM kept),
    terms AS (
      SELECT n_d * (s_t * c_c - s_c * c_t) AS num,
             (SELECT n FROM nn) * c_t * c_c AS den
      FROM kept)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS n_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS n_strata_used,
           CAST(SUM(CASE WHEN num >= 0
                 THEN (2 * 1000000 * num + den) // (2 * den)
                 ELSE -((2 * 1000000 * (-num) + den) // (2 * den)) END)
                AS BIGINT) AS ate_micro
    FROM terms
    """,
    description="stratified average treatment effect (the classic "
    "observational causal estimator — subclassification on an activity "
    "propensity proxy; Cochran 1968): "
    "(treatment = above-average signup count, >= 14 — every user signs "
    "up at least once in this data, so ever-signed-up cannot split), "
    "outcome = purchase count, strata = activity quartiles (NTILE over "
    "a uniquely tie-broken order); ATE = sum_d (n_d/N) * (mean_t(d) - "
    "mean_c(d)) over strata with BOTH arms present (positivity — "
    "dropped strata reported via n_strata_used), every per-stratum "
    "term an exact rational emitted as SIGNED round-half-away micro "
    "before the exact sum (the q_shapley_attribution convention). "
    "SCALE: one user rollup, one stratum rollup (4 rows), constant "
    "final arithmetic",
    tags=("events", "causal", "experimentation"),
)
def q_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_table(spark, sf_dir)
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.when(
            F.sum(
                F.when(F.col("event_type") == "signup", 1).otherwise(0)
            ) >= 14,
            1,
        ).otherwise(0).alias("t"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("bigint").alias("y"),
    )
    s = u.select(
        "t", "y",
        F.ntile(_ATE_STRATA).over(Window.orderBy("n_events", "user_id")).alias("d"),
    )
    g = s.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_d"),
        F.sum("t").cast("bigint").alias("c_t"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast("bigint").alias("s_t"),
        F.sum(1 - F.col("t")).cast("bigint").alias("c_c"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast("bigint").alias("s_c"),
    )
    kept = g.where((F.col("c_t") > 0) & (F.col("c_c") > 0)).localCheckpoint()
    nn = kept.agg(F.sum("n_d").cast("bigint").alias("n"))
    nu = u.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    nk = kept.agg(F.count(F.lit(1)).cast("bigint").alias("n_strata_used"))
    terms = kept.crossJoin(F.broadcast(nn)).selectExpr(
        "n_d * (s_t * c_c - s_c * c_t) AS num",
        "n * c_t * c_c AS den",
    )
    ate = terms.agg(
        F.expr(
            "CAST(SUM(CASE WHEN num >= 0 "
            "THEN (2 * 1000000 * num + den) div (2 * den) "
            "ELSE -((2 * 1000000 * (-num) + den) div (2 * den)) END) AS BIGINT)"
        ).alias("ate_micro")
    )
    return nu.crossJoin(F.broadcast(nk)).crossJoin(F.broadcast(ate))


# --- 1-D Wasserstein (earth-mover) distance ---------------------------------------

@register(
    "q_wasserstein_1d",
    oracle=f"""
    WITH e AS (SELECT event_type, round(value, 6) AS v FROM events
               WHERE event_type IN ('purchase', 'click')),
    pts AS (
      SELECT v,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS da,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS db
      FROM e GROUP BY v),
    nn AS (
      SELECT CAST(SUM(da) AS BIGINT) AS na, CAST(SUM(db) AS BIGINT) AS nb
      FROM pts),
    cdf AS (
      SELECT v,
             CAST(SUM(da) OVER w AS BIGINT) AS ca,
             CAST(SUM(db) OVER w AS BIGINT) AS cb,
             LEAD(v) OVER (ORDER BY v) AS v_next
      FROM pts
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)),
    terms AS (
      SELECT CAST(ROUND(CAST(ABS(ca * (SELECT nb FROM nn)
                                 - cb * (SELECT na FROM nn)) AS DOUBLE)
                        * (v_next - v)
                        / CAST((SELECT na FROM nn) * (SELECT nb FROM nn)
                               AS DOUBLE), 9) AS DECIMAL(28,9)) AS t
      FROM cdf WHERE v_next IS NOT NULL)
    SELECT (SELECT na FROM nn) AS n_a, (SELECT nb FROM nn) AS n_b,
           ROUND(CAST(SUM(t) AS DOUBLE), 6) AS w1_distance
    FROM terms
    """,
    description="1-D Wasserstein (earth-mover) distance between the "
    "purchase and click value distributions — the distribution-shift "
    "metric that sees HOW FAR mass moved, not just that it moved "
    "(beside q_kl_divergence's binned divergence): W1 = integral of "
    "|F_a - F_b| over the merged empirical support, each segment's "
    "|ca*nb - cb*na| an EXACT integer, the per-segment product one "
    "fixed-order IEEE expression rounded to a DECIMAL(28,9) "
    "contribution (the pagerank convention) so the distributed sum is "
    "order-free. SCALE: one value rollup + the two-pass distributed "
    "CDF (operators/ranking.py two_pass_cdf: range exchange + "
    "broadcast per-partition offsets; the LEAD borrows the next "
    "partition's first support point from the same tiny frame — no "
    "single-partition sort); at extreme scale pre-bin the support — "
    "the estimate degrades gracefully with bin width",
    tags=("events", "stats", "drift", "wasserstein"),
)
def q_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.ranking import two_pass_cdf

    e = events_table(spark, sf_dir).where(
        F.col("event_type").isin("purchase", "click")
    ).select("event_type", F.round("value", 6).alias("v"))
    pts = e.groupBy("v").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint").alias("da"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint").alias("db"),
    )
    cdf = two_pass_cdf(pts, ["v"], ["da", "db"], "v", "v_next").select(
        "v",
        F.col("cum_da").alias("ca"),
        F.col("cum_db").alias("cb"),
        F.col("tot_da").alias("na"),
        F.col("tot_db").alias("nb"),
        "v_next",
    )
    terms = (
        cdf.where(F.col("v_next").isNotNull())
        .select(
            F.round(
                F.abs(
                    F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")
                ).cast("double")
                * (F.col("v_next") - F.col("v"))
                / (F.col("na") * F.col("nb")).cast("double"),
                9,
            )
            .cast("decimal(28,9)")
            .alias("t"),
            "na", "nb",
        )
    )
    return terms.groupBy("na", "nb").agg(
        F.round(F.sum("t").cast("double"), 6).alias("w1_distance")
    ).select(
        F.col("na").alias("n_a"), F.col("nb").alias("n_b"), "w1_distance"
    )


# --- drift metrics: PSI + Jensen-Shannon -------------------------------------------

_PSI_LN = duck_portable_ln_ratio("(ca + 1) * (nb + nbins)", "(cb + 1) * (na + nbins)")
_JS_LN_A = duck_portable_ln_ratio("2 * ca * nb", "ca * nb + cb * na")
_JS_LN_B = duck_portable_ln_ratio("2 * cb * na", "ca * nb + cb * na")


# Width-10 value bins with their purchase (ca) and click (cb) counts.
_DRIFT_BINS_DUCK = """
    WITH e AS (
      SELECT event_type, CAST(FLOOR(value / 10) AS BIGINT) AS bin
      FROM events WHERE event_type IN ('purchase', 'click')),
    b AS (SELECT bin,
                 CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      AS BIGINT) AS ca,
                 CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                      AS BIGINT) AS cb
          FROM e GROUP BY bin),
"""


def _drift_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per width-10 value ``bin``: purchase count ``ca``, click count ``cb``."""
    e = events_table(spark, sf_dir).where(
        F.col("event_type").isin("purchase", "click")
    ).select(
        "event_type", F.floor(F.col("value") / 10).cast("bigint").alias("bin")
    )
    return e.groupBy("bin").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint").alias("ca"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint").alias("cb"),
    )


@register(
    "q_psi_drift",
    oracle=_DRIFT_BINS_DUCK + f"""
    g AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
                 CAST(COUNT(*) AS BIGINT) AS nbins
          FROM b),
    terms AS (
      SELECT CAST(ROUND({_PSI_LN}
                        * ((CAST(ca + 1 AS DOUBLE) / (na + nbins))
                           - (CAST(cb + 1 AS DOUBLE) / (nb + nbins))), 9)
                  AS DECIMAL(18,9)) AS t
      FROM b, g)
    SELECT (SELECT na FROM g) AS n_a, (SELECT nb FROM g) AS n_b,
           (SELECT nbins FROM g) AS n_bins,
           ROUND(CAST(SUM(t) AS DOUBLE), 6) AS psi
    FROM terms
    """,
    description="population stability index between the purchase and "
    "click value distributions (the model-monitoring drift gate: "
    "PSI < 0.1 stable / > 0.25 action): width-10 bins, Laplace +1 "
    "smoothing so empty-side bins stay finite (the standard PSI fix, "
    "exact by construction: counts+1 over totals+n_bins keeps every "
    "ratio integral), each term (pa - pb)·ln(pa/pb) with the log of the "
    "exact integer ratio riding the engine-portable ln and contributions "
    "rounded then decimal-summed (order-free). SCALE: one bin rollup + a "
    "broadcast scalar frame — map-side everything",
    tags=("events", "stats", "drift", "psi"),
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.functions.portable_math import portable_ln_ratio

    b = _drift_bins(spark, sf_dir)
    g = b.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.count(F.lit(1)).cast("bigint").alias("nbins"),
    )
    pa = (F.col("ca") + 1).cast("double") / (F.col("na") + F.col("nbins"))
    pb = (F.col("cb") + 1).cast("double") / (F.col("nb") + F.col("nbins"))
    contrib = F.round(
        portable_ln_ratio(
            (F.col("ca") + 1) * (F.col("nb") + F.col("nbins")),
            (F.col("cb") + 1) * (F.col("na") + F.col("nbins")),
        )
        * (pa - pb),
        9,
    ).cast("decimal(18,9)")
    return (
        b.crossJoin(F.broadcast(g))
        .agg(
            F.first("na").alias("n_a"),
            F.first("nb").alias("n_b"),
            F.first("nbins").alias("n_bins"),
            F.round(F.sum(contrib).cast("double"), 6).alias("psi"),
        )
    )


@register(
    "q_js_divergence",
    oracle=_DRIFT_BINS_DUCK + f"""
    g AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
          FROM b),
    ta AS (
      SELECT CAST(ROUND({_JS_LN_A}
                        * (CAST(ca AS DOUBLE) / na), 9) AS DECIMAL(18,9)) AS t
      FROM b, g WHERE ca > 0),
    tb AS (
      SELECT CAST(ROUND({_JS_LN_B}
                        * (CAST(cb AS DOUBLE) / nb), 9) AS DECIMAL(18,9)) AS t
      FROM b, g WHERE cb > 0)
    SELECT (SELECT na FROM g) AS n_a, (SELECT nb FROM g) AS n_b,
           ROUND(0.5 * CAST((SELECT SUM(t) FROM ta) AS DOUBLE)
                 + 0.5 * CAST((SELECT SUM(t) FROM tb) AS DOUBLE), 6) AS js_nats
    FROM g
    """,
    description="Jensen-Shannon divergence between the purchase and "
    "click value distributions — the SYMMETRIC, bounded (<= ln 2) drift "
    "metric completing the family (KL directional, W1 metric, PSI "
    "industry gate): JS = 0.5·Σ pa·ln(2pa/(pa+pb)) + 0.5·Σ pb·ln(...), "
    "each log an exact integer ratio 2·ca·nb/(ca·nb + cb·na) on the "
    "engine-portable ln; 0·ln0 terms drop exactly via the c > 0 filter; "
    "contributions rounded then decimal-summed. SCALE: one bin rollup + "
    "broadcast scalar totals",
    tags=("events", "stats", "drift", "jensen-shannon"),
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.functions.portable_math import portable_ln_ratio

    b = _drift_bins(spark, sf_dir)
    g = b.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    bb = b.crossJoin(F.broadcast(g)).localCheckpoint()  # feeds both term sums
    mix = F.col("ca") * F.col("nb") + F.col("cb") * F.col("na")
    ta = bb.where(F.col("ca") > 0).agg(
        F.sum(
            F.round(
                portable_ln_ratio(2 * F.col("ca") * F.col("nb"), mix)
                * (F.col("ca").cast("double") / F.col("na")),
                9,
            ).cast("decimal(18,9)")
        ).alias("sa")
    )
    tb = bb.where(F.col("cb") > 0).agg(
        F.sum(
            F.round(
                portable_ln_ratio(2 * F.col("cb") * F.col("na"), mix)
                * (F.col("cb").cast("double") / F.col("nb")),
                9,
            ).cast("decimal(18,9)")
        ).alias("sb")
    )
    return (
        g.crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.round(
                0.5 * F.col("sa").cast("double") + 0.5 * F.col("sb").cast("double"),
                6,
            ).alias("js_nats"),
        )
    )


# --- log-rank test (two-group survival comparison) ---------------------------------


@register(
    "q_logrank_test",
    oracle=_SURVIVAL_USERS_DUCK + """
    subjects AS (
      SELECT user_id % 2 AS grp,
             CASE WHEN t_conv IS NOT NULL THEN t_conv - t0 ELSE t_last - t0 END AS dur,
             CASE WHEN t_conv IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per_user),
    times AS (
      SELECT dur AS t, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN grp = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1
      FROM subjects GROUP BY dur HAVING SUM(ev) > 0),
    risk AS (
      SELECT t, d, d1,
             CAST((SELECT COUNT(*) FROM subjects s WHERE s.dur >= times.t)
                  AS BIGINT) AS n,
             CAST((SELECT COUNT(*) FROM subjects s
                   WHERE s.dur >= times.t AND s.grp = 1) AS BIGINT) AS n1
      FROM times),
    terms AS (
      SELECT d1,
             CAST(ROUND(CAST(d AS DOUBLE) * n1 / n, 9) AS DECIMAL(18,9)) AS e1,
             CAST(ROUND(((CAST(d AS DOUBLE) * n1) * (n - n1) * (n - d))
                        / ((CAST(n AS DOUBLE) * n) * (n - 1)), 9)
                  AS DECIMAL(18,9)) AS v
      FROM risk WHERE n > 1),
    s AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             ROUND(CAST(SUM(e1) AS DOUBLE), 6) AS e1,
             ROUND(CAST(SUM(v) AS DOUBLE), 6) AS var1
      FROM terms)
    SELECT o1, e1, var1,
           ROUND((o1 - e1) * (o1 - e1) / var1, 6) AS chi2
    FROM s
    """,
    description="log-rank test (Mantel-Cox) comparing "
    "time-to-first-high-value-purchase between the two user-parity "
    "cohorts — the hypothesis test completing the survival family beside "
    "q_kaplan_meier's curve: at each event time the group-1 event count "
    "is compared to its hypergeometric expectation d·n1/n with variance "
    "d·n1·n0·(n-d)/(n²(n-1)); per-time terms are fixed-order IEEE "
    "expressions of exact integer at-risk/event counts, rounded then "
    "decimal-summed (order-free), chi2 = (O-E)²/V one final IEEE "
    "division. SCALE: per-user rollup + a broadcast event-time risk-set "
    "range join (event-time table is tiny) — the q_kaplan_meier shape "
    "with one more group dimension",
    tags=("events", "timeseries", "survival", "stats"),
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    subjects = _survival_users(spark, sf_dir).select(
        (F.col("user_id") % 2).alias("grp"), *_duration_and_event()
    ).localCheckpoint()  # feeds event times AND both risk-set counts
    times = (
        subjects.groupBy(F.col("dur").alias("t"))
        .agg(
            F.sum("ev").cast("bigint").alias("d"),
            F.sum(F.when(F.col("grp") == 1, F.col("ev")).otherwise(0))
            .cast("bigint").alias("d1"),
        )
        .where(F.col("d") > 0)
    )
    risk = (
        subjects.join(F.broadcast(times), F.col("dur") >= F.col("t"))
        .groupBy("t", "d", "d1")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
            .cast("bigint").alias("n1"),
        )
    )
    terms = risk.where(F.col("n") > 1).select(
        "d1",
        F.round(
            F.col("d").cast("double") * F.col("n1") / F.col("n"), 9
        ).cast("decimal(18,9)").alias("e1"),
        F.round(
            (
                (F.col("d").cast("double") * F.col("n1"))
                * (F.col("n") - F.col("n1"))
                * (F.col("n") - F.col("d"))
            )
            / (
                (F.col("n").cast("double") * F.col("n"))
                * (F.col("n") - 1)
            ),
            9,
        ).cast("decimal(18,9)").alias("v"),
    )
    s = terms.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.round(F.sum("e1").cast("double"), 6).alias("e1"),
        F.round(F.sum("v").cast("double"), 6).alias("var1"),
    )
    return s.select(
        "o1", "e1", "var1",
        F.round(
            (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.col("var1"),
            6,
        ).alias("chi2"),
    )


# --- partial autocorrelation (PACF, Durbin-Levinson) -------------------------

_PACF_LAGS = 5


def _pacf_exprs(lags: int) -> dict[int, str]:
    """Durbin-Levinson recursion UNROLLED as one generated SQL text per
    phi_{k,k} over columns rho1..rho{lags} — the same string runs on both
    engines, so every +,*,/ happens in the identical order (IEEE-exact on
    identical operands; the q_jaro_winkler generated-text rule). Expression
    size grows ~3^k — fine for the bounded lag budget, never for unbounded
    k (document, don't generalize)."""
    phi: dict[tuple[int, int], str] = {(1, 1): "rho1"}
    for k in range(2, lags + 1):
        num = " - ".join(
            [f"rho{k}"]
            + [f"(({phi[(k - 1, j)]}) * rho{k - j})" for j in range(1, k)]
        )
        den = " - ".join(
            ["1.0"] + [f"(({phi[(k - 1, j)]}) * rho{j})" for j in range(1, k)]
        )
        phi[(k, k)] = f"(({num}) / ({den}))"
        for j in range(1, k):
            phi[(k, j)] = (
                f"(({phi[(k - 1, j)]}) - ({phi[(k, k)]}) * ({phi[(k - 1, k - j)]}))"
            )
    return {k: phi[(k, k)] for k in range(1, lags + 1)}


_PACF_PHI = _pacf_exprs(_PACF_LAGS)


@register(
    "q_pacf",
    oracle=_DAILY_RESID_DUCK + f"""
    ld AS (
      SELECT r,
             {", ".join(f"LEAD(r, {k}) OVER (ORDER BY day) AS r{k}" for k in range(1, _PACF_LAGS + 1))}
      FROM r),
    agg AS (
      SELECT CAST(SUM(r * r) AS DECIMAL(38,0)) AS den,
             {", ".join(f"CAST(SUM(r * r{k}) AS DECIMAL(38,0)) AS num{k}" for k in range(1, _PACF_LAGS + 1))}
      FROM ld),
    rho AS (
      SELECT {", ".join(f"CAST(num{k} AS DOUBLE) / CAST(den AS DOUBLE) AS rho{k}" for k in range(1, _PACF_LAGS + 1))}
      FROM agg)
    {" UNION ALL ".join(f"SELECT CAST({k} AS INTEGER) AS lag, ROUND({_PACF_PHI[k]}, 6) AS pacf FROM rho" for k in range(1, _PACF_LAGS + 1))}
    ORDER BY lag
    """,
    description="partial autocorrelation function (lags 1..5) of the daily "
    "event-value series — the AR-order identification twin of "
    "q_acf_multilag (same exact-integer residual pipeline): Durbin-"
    "Levinson unrolled as ONE generated SQL text per phi_kk over the "
    "rho_k columns, so both engines run the identical fixed-order IEEE "
    "expression (the q_jaro_winkler shared-text rule — zero divergence "
    "surface). SCALE: everything after the map-side daily rollup is a "
    "1-row scalar frame; expression size is 3^k in the FIXED lag budget",
    tags=("events", "timeseries", "stats"),
)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _daily_residuals(_daily_sums(spark, sf_dir, "s"), "decimal(38,0)")
    w = Window.orderBy("day")
    ld = r.select(
        "r",
        *[F.lead("r", k).over(w).alias(f"r{k}") for k in range(1, _PACF_LAGS + 1)],
    )
    agg = ld.agg(
        F.sum(F.col("r") * F.col("r")).cast("decimal(38,0)").alias("den"),
        *[
            F.sum(F.col("r") * F.col(f"r{k}")).cast("decimal(38,0)").alias(f"num{k}")
            for k in range(1, _PACF_LAGS + 1)
        ],
    )
    rho = agg.selectExpr(
        *[
            f"CAST(num{k} AS DOUBLE) / CAST(den AS DOUBLE) AS rho{k}"
            for k in range(1, _PACF_LAGS + 1)
        ]
    )
    return rho.selectExpr(
        "stack({n}, {pairs}) AS (lag, pacf)".format(
            n=_PACF_LAGS,
            pairs=", ".join(
                f"CAST({k} AS INT), ROUND({_PACF_PHI[k]}, 6)"
                for k in range(1, _PACF_LAGS + 1)
            ),
        )
    ).orderBy("lag")


# --- Cramer-von Mises two-sample test -----------------------------------------------


@register(
    "q_cvm_test",
    oracle=_TWO_SAMPLE_DUCK + """
    r AS (
      SELECT event_type, cnt,
""" + _CUM_COUNTS_DUCK + """    d AS (
      SELECT event_type, n_a, n - n_a AS n_b,
             SUM(cnt * (cum_a * (n - n_a) - (cum - cum_a) * n_a)
                     * (cum_a * (n - n_a) - (cum - cum_a) * n_a)) AS s
      FROM r GROUP BY event_type, n_a, n - n_a)
    SELECT event_type, n_a, n_b,
           ROUND(CAST(s AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                    * CAST((n_a + n_b) * (n_a + n_b) AS DOUBLE)), 6) AS t_stat
    FROM d ORDER BY event_type
    """,
    description="two-sample Cramer-von Mises test per event type (cohort "
    "A = even user_id) — the whole-curve companion of q_ks_test (KS sees "
    "only the max ECDF gap; CvM integrates the squared gap, catching "
    "distributed small shifts KS misses): T = nm/(n+m)^2 * Sum over all "
    "pooled points of (F_a - F_b)^2, carried as EXACT integer cross-"
    "products cnt*(cumA*nB - cumB*nA)^2 (HUGEINT oracle sums / "
    "DECIMAL(38,0) Spark-side), one final IEEE division chain. SCALE: "
    "identical shape to q_ks_test — cumulative windows over the "
    "distinct-value frame after map-side pre-aggregation, shuffle is "
    "|distinct values|, key-parallel per event type",
    tags=("events", "stats", "experiment", "nonparametric"),
)
def q_cvm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _two_sample_counts(spark, sf_dir).select("event_type", "cnt", *_cum_counts())
    d = (
        r.select(
            "event_type", "n_a", (F.col("n") - F.col("n_a")).alias("n_b"),
            (
                F.col("cnt").cast("decimal(19,0)")
                * (
                    F.col("cum_a") * (F.col("n") - F.col("n_a"))
                    - (F.col("cum") - F.col("cum_a")) * F.col("n_a")
                ).cast("decimal(19,0)")
                * (
                    F.col("cum_a") * (F.col("n") - F.col("n_a"))
                    - (F.col("cum") - F.col("cum_a")) * F.col("n_a")
                ).cast("decimal(19,0)")
            ).alias("term"),
        )
        .groupBy("event_type", "n_a", "n_b")
        .agg(F.sum("term").alias("s"))
    )
    return d.selectExpr(
        "event_type", "n_a", "n_b",
        "ROUND(CAST(s AS DOUBLE)"
        " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)"
        "    * CAST((n_a + n_b) * (n_a + n_b) AS DOUBLE)), 6) AS t_stat",
    ).orderBy("event_type")


# --- fixed-period periodogram -------------------------------------------------------

_PG_PERIODS = (2, 3, 7, 14)


def _pg_trig_literals() -> dict[int, tuple[str, str]]:
    """Per-period cos/sin lookup tables keyed by (day mod p), emitted as
    shared 12-dp decimal literals (the Benford/NDCG shared-literal rule —
    a decimal literal parses to the identical double in both engines, so
    NO engine ever evaluates a transcendental). Returns {p: (cos_case,
    sin_case)} with CASE expressions over `day % p`."""
    import math

    out = {}
    for p in _PG_PERIODS:
        cos_arms = " ".join(
            f"WHEN {t} THEN {round(math.cos(2 * math.pi * t / p), 12)!r}"
            for t in range(p)
        )
        sin_arms = " ".join(
            f"WHEN {t} THEN {round(math.sin(2 * math.pi * t / p), 12)!r}"
            for t in range(p)
        )
        out[p] = (
            f"(CASE day % {p} {cos_arms} END)",
            f"(CASE day % {p} {sin_arms} END)",
        )
    return out


_PG_TRIG = _pg_trig_literals()


@register(
    "q_periodogram",
    oracle=_DAILY_SUMS_DUCK + f"""
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS ssum
           FROM days),
    r AS (
      SELECT day, CAST((SELECT n FROM st) * s - (SELECT ssum FROM st)
                       AS DOUBLE) AS r
      FROM days),
    proj AS (
      {" UNION ALL ".join(
        f'''SELECT {p} AS period,
             CAST(round(r * {_PG_TRIG[p][0]}, 3) AS DECIMAL(38,3)) AS c,
             CAST(round(r * {_PG_TRIG[p][1]}, 3) AS DECIMAL(38,3)) AS sn
      FROM r''' for p in _PG_PERIODS)}),
    agg AS (
      SELECT period, CAST(SUM(c) AS DOUBLE) AS sc, CAST(SUM(sn) AS DOUBLE) AS ss
      FROM proj GROUP BY period)
    SELECT CAST(period AS BIGINT) AS period,
           ROUND(sc * sc + ss * ss, 3) AS power
    FROM agg ORDER BY period
    """,
    description="fixed-period periodogram of the daily event-value series "
    "(spectral power at candidate cycles 2/3/7/14 days — the cycle "
    "detector that says WHICH seasonality q_seasonal_indices should "
    "model): cos/sin ride as per-(day mod p) 12-dp literal lookup "
    "tables (no engine evaluates a transcendental), residuals use the "
    "exact-integer scaled identity r_t = n*s_t - S, projections are "
    "DECIMAL(38,3) contributions (order-free sums), power = c^2 + s^2 "
    "in one fixed-order IEEE expression. SCALE: map-side daily rollup, "
    "then a |periods| x |days| bounded frame — no window, no iteration",
    tags=("events", "timeseries", "stats"),
)
def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _daily_residuals(_daily_sums(spark, sf_dir, "s"), "double")
    proj = None
    for p in _PG_PERIODS:
        cs, sn = _PG_TRIG[p]
        part = r.selectExpr(
            f"{p} AS period",
            f"CAST(round(r * {cs}, 3) AS DECIMAL(38,3)) AS c",
            f"CAST(round(r * {sn}, 3) AS DECIMAL(38,3)) AS sn",
        )
        proj = part if proj is None else proj.unionByName(part)
    agg = proj.groupBy("period").agg(
        F.sum("c").cast("double").alias("sc"),
        F.sum("sn").cast("double").alias("ss"),
    )
    return agg.selectExpr(
        "CAST(period AS BIGINT) AS period",
        "ROUND(sc * sc + ss * ss, 3) AS power",
    ).orderBy("period")


# --- Anderson-Darling two-sample test ----------------------------------------------


@register(
    "q_anderson_darling",
    oracle=_TWO_SAMPLE_DUCK + """
    r AS (
      SELECT event_type, cnt,
""" + _CUM_COUNTS_DUCK + """    terms AS (
      SELECT event_type, n_a, n - n_a AS n_b,
             CAST(round(
               CAST(cnt AS DOUBLE)
               * (CAST(cum_a * n - cum * n_a AS DOUBLE)
                  * CAST(cum_a * n - cum * n_a AS DOUBLE))
               / (CAST(cum AS DOUBLE) * CAST(n - cum AS DOUBLE)), 9)
             AS DECIMAL(28,9)) AS t
      FROM r WHERE cum < n),
    agg AS (
      SELECT event_type, n_a, n_b, CAST(SUM(t) AS DOUBLE) AS s
      FROM terms GROUP BY event_type, n_a, n_b)
    SELECT event_type, n_a, n_b,
           ROUND(s / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS a2
    FROM agg ORDER BY event_type
    """,
    description="two-sample Anderson-Darling statistic per event type "
    "(cohort A = even user_id) — completes the ECDF-test trio: KS sees "
    "the max gap, CvM the mean squared gap, AD weights the squared gap "
    "by 1/(H(1-H)) so TAIL differences count (the heavy-tail shift "
    "detector). Pettitt's A2 with ties processed as distinct-value "
    "blocks (right-continuous ECDF, H=1 block excluded — the convention "
    "is pinned in the python twin): per-block terms are exact integer "
    "cross-products over one fixed-order IEEE division, DECIMAL(28,9) "
    "contributions. SCALE: identical shape to q_ks_test/q_cvm_test — "
    "cumulative windows over the map-side pre-aggregated distinct-value "
    "frame, key-parallel per event type",
    tags=("events", "stats", "experiment", "nonparametric"),
)
def q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _two_sample_counts(spark, sf_dir).select("event_type", "cnt", *_cum_counts())
    terms = r.where(F.col("cum") < F.col("n")).selectExpr(
        "event_type", "n_a", "n - n_a AS n_b",
        # the deviation d = cum_a*n - cum*n_a is BIGINT-safe (<= N^2) but
        # d^2 is NOT at large N — square in DOUBLE on both engines
        "CAST(round("
        " CAST(cnt AS DOUBLE)"
        " * (CAST(cum_a * n - cum * n_a AS DOUBLE)"
        "    * CAST(cum_a * n - cum * n_a AS DOUBLE))"
        " / (CAST(cum AS DOUBLE) * CAST(n - cum AS DOUBLE)), 9)"
        " AS DECIMAL(28,9)) AS t",
    )
    return (
        terms.groupBy("event_type", "n_a", "n_b")
        .agg(F.sum("t").cast("double").alias("s"))
        .selectExpr(
            "event_type", "n_a", "n_b",
            "ROUND(s / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS a2",
        )
        .orderBy("event_type")
    )


# --- Nelson-Aalen cumulative hazard -------------------------------------------------


@register(
    "q_nelson_aalen",
    oracle=_SURVIVAL_TIMES_DUCK + f"""
    risk AS (
      SELECT t, d,
             CAST((SELECT COUNT(*) FROM subjects s WHERE s.dur >= times.t)
                  AS BIGINT) AS n
      FROM times),
    terms AS (
      SELECT t, d, n,
             CAST(round(CAST(d AS DOUBLE) / n, 9) AS DECIMAL(28,9)) AS h,
             CAST(round(CAST(d AS DOUBLE) / (CAST(n AS DOUBLE) * n), 9)
                  AS DECIMAL(28,9)) AS v
      FROM risk),
    curve AS (
      SELECT t, d, n,
             SUM(h) OVER w AS ch, SUM(v) OVER w AS cv
      FROM terms
      WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING))
    SELECT CAST(t AS BIGINT) AS duration_s, n AS at_risk, d AS n_events,
           ROUND(CAST(ch AS DOUBLE), 6) AS cum_hazard,
           ROUND(CAST(cv AS DOUBLE), 9) AS hazard_var
    FROM curve ORDER BY duration_s
    """,
    description="Nelson-Aalen cumulative hazard (+ its Poisson variance) "
    "for time-to-first-high-value-purchase with right censoring — the "
    "additive twin of q_kaplan_meier's multiplicative survival curve "
    "(H(t) = sum d_i/n_i; exact-rational increments as DECIMAL(28,9) "
    "contributions, so the running sums are order-free): same subjects/"
    "risk-set frames (the event-time table is tiny — broadcast range "
    "semi-join), one ordered prefix sum over the bounded event-time "
    "frame. SCALE: identical to q_kaplan_meier — one user rollup + a "
    "bounded risk join",
    tags=("events", "timeseries", "survival"),
)
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    subjects = _survival_users(spark, sf_dir).select(*_duration_and_event())
    times = (
        subjects.groupBy(F.col("dur").alias("t"))
        .agg(F.sum("ev").cast("bigint").alias("d"))
        .where(F.col("d") > 0)
    )
    risk = (
        subjects.join(F.broadcast(times), subjects.dur >= times.t)
        .groupBy("t", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    terms = risk.selectExpr(
        "t", "d", "n",
        "CAST(round(CAST(d AS DOUBLE) / n, 9) AS DECIMAL(28,9)) AS h",
        "CAST(round(CAST(d AS DOUBLE) / (CAST(n AS DOUBLE) * n), 9)"
        " AS DECIMAL(28,9)) AS v",
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return (
        terms.select(
            "t", "d", "n",
            F.sum("h").over(w).alias("ch"),
            F.sum("v").over(w).alias("cv"),
        )
        .selectExpr(
            "CAST(t AS BIGINT) AS duration_s",
            "n AS at_risk",
            "d AS n_events",
            "ROUND(CAST(ch AS DOUBLE), 6) AS cum_hazard",
            "ROUND(CAST(cv AS DOUBLE), 9) AS hazard_var",
        )
        .orderBy("duration_s")
    )


# --- entropy rate of the event sequence ----------------------------------------------

_ER_LN = duck_portable_ln_ratio("c_a", "c_ab")


@register(
    "q_entropy_rate",
    oracle=_TRANSITIONS_DUCK + f""",
    n AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS nn FROM c),
    terms AS (
      SELECT c.prev_type,
             CAST(round(CAST(c.c_ab AS DOUBLE) * {_ER_LN}, 9)
                  AS DECIMAL(28,9)) AS t
      FROM c JOIN t ON c.prev_type = t.prev_type),
    per AS (
      SELECT prev_type, CAST(SUM(t) AS DECIMAL(38,9)) AS s
      FROM terms GROUP BY prev_type)
    SELECT per.prev_type,
           t.c_a AS n_transitions,
           ROUND(CAST(per.s AS DOUBLE) / t.c_a, 6) AS cond_entropy_nats,
           (SELECT ROUND(CAST(SUM(per2.s) AS DOUBLE)
                         / (SELECT CAST(nn AS DOUBLE) FROM n), 6)
            FROM per per2) AS entropy_rate_nats
    FROM per JOIN t ON per.prev_type = t.prev_type
    ORDER BY per.prev_type
    """,
    description="empirical entropy rate of the per-user event sequence "
    "(H(next | prev) under the bigram model — the sequence-"
    "predictability number: 0 = deterministic sessions, ln(K) = uniform "
    "noise; the information-theoretic twin of q_markov_transitions): "
    "per-state conditional entropies and the stationary-weighted rate, "
    "all from the same exact transition counts — each term is "
    "c_ab * ln(c_a/c_ab) on the engine-portable ratio ln, DECIMAL(28,9) "
    "contributions, one final IEEE division. SCALE: one user-keyed "
    "window + rollups bounded by |event types|^2",
    tags=("events", "sequence", "markov", "stats"),
)
def q_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.functions.portable_math import portable_ln_ratio

    c, t = _transition_counts(spark, sf_dir)
    nn = c.agg(F.sum("c_ab").cast("bigint").alias("nn"))
    terms = c.join(F.broadcast(t), "prev_type").select(
        "prev_type",
        F.round(
            F.col("c_ab").cast("double")
            * portable_ln_ratio(F.col("c_a"), F.col("c_ab")),
            9,
        ).cast("decimal(28,9)").alias("t"),
    )
    # per-state sums STAY decimal through the second aggregation level —
    # a raw double sum over even a 5-row frame is order-dependent
    per = terms.groupBy("prev_type").agg(
        F.sum("t").cast("decimal(38,9)").alias("s")
    )
    rate = per.agg(F.sum("s").alias("stot")).crossJoin(F.broadcast(nn)).select(
        F.round(
            F.col("stot").cast("double") / F.col("nn").cast("double"), 6
        ).alias("entropy_rate_nats")
    )
    return (
        per.join(t, "prev_type")
        .crossJoin(F.broadcast(rate))
        .selectExpr(
            "prev_type",
            "c_a AS n_transitions",
            "ROUND(CAST(s AS DOUBLE) / c_a, 6) AS cond_entropy_nats",
            "entropy_rate_nats",
        )
        .orderBy("prev_type")
    )
