"""Multi-dimensional OLAP aggregations: rollup, cube, grouping sets, pivot.

The reference uses none of these (SURVEY §2.4: "no grouping sets / cube /
rollup / pivot — expose Spark's built-ins anyway; zero extra cost"). All
group keys in the test data are non-null, so subtotal rows are
unambiguously identified by NULL keys in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from platform_etl_backend_spark.catalog.registry import register, table, dec2, dbl


@register(
    "q_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    description="hierarchical rollup subtotals (engine extension over the reference)",
    tags=("agg", "olap"),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"), dbl(F.sum(dec2("l_quantity"))).alias("sum_qty")
    )


@register(
    "q_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    description="full cube over two dimensions (engine extension)",
    tags=("agg", "olap"),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        dbl(F.sum(dec2("l_extendedprice"))).alias("total"),
    )


@register(
    "q_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    description="explicit grouping sets (engine extension)",
    tags=("agg", "olap"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "q_pivot",
    oracle="""
    SELECT l_linestatus,
           CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                         FILTER (WHERE l_returnflag = 'A'), 0) AS DOUBLE) AS qty_a,
           CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                         FILTER (WHERE l_returnflag = 'N'), 0) AS DOUBLE) AS qty_n,
           CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                         FILTER (WHERE l_returnflag = 'R'), 0) AS DOUBLE) AS qty_r
    FROM lineitem GROUP BY l_linestatus
    """,
    description="pivot wide aggregation with pinned value columns (engine extension)",
    tags=("agg", "olap", "reshape"),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(dec2("l_quantity")))
    )
    return pivoted.select(
        "l_linestatus",
        dbl(F.coalesce(F.col("A"), F.lit(0))).alias("qty_a"),
        dbl(F.coalesce(F.col("N"), F.lit(0))).alias("qty_n"),
        dbl(F.coalesce(F.col("R"), F.lit(0))).alias("qty_r"),
    )


@register(
    "q_percentile_disc",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem)
    SELECT l_returnflag,
           MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN l_quantity END) AS p50,
           MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN l_quantity END) AS p90,
           MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN l_quantity END) AS p99
    FROM ranked GROUP BY l_returnflag
    """,
    description="exact discrete percentiles (p50/p90/p99) per group via rank-pick — "
    "engine-portable integer logic, no interpolation-formula drift; one window pass",
    tags=("stats", "window", "olap"),
)
def q_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag", "l_quantity",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    def pick(p: float):
        return F.max(
            F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("bigint"),
                   F.col("l_quantity"))
        )
    return ranked.groupBy("l_returnflag").agg(
        pick(0.5).alias("p50"), pick(0.9).alias("p90"), pick(0.99).alias("p99")
    )


@register(
    "q_stats_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           ROUND(sx / n, 6) AS mean_qty,
           ROUND((sxx - sx * sx / n) / (n - 1), 6) AS var_qty,
           ROUND(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS stddev_qty,
           ROUND((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
               AS corr_qty_price
    FROM s
    """,
    description="moment statistics (mean/var/stddev/corr) via DECIMAL power sums — "
    "the determinism convention for distributed float aggregation: exact partial "
    "sums shuffle-order-independently, doubles only at the final scalar step",
    tags=("stats", "agg", "olap"),
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    x, y = dec2("l_quantity"), dec2("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dbl(F.sum(x)).alias("sx"),
        dbl(F.sum(x * x)).alias("sxx"),
        dbl(F.sum(y)).alias("sy"),
        dbl(F.sum(y * y)).alias("syy"),
        dbl(F.sum(x * y)).alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = [F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy")]
    return s.select(
        "l_returnflag",
        "n",
        F.round(sx / n, 6).alias("mean_qty"),
        F.round((sxx - sx * sx / n) / (n - 1), 6).alias("var_qty"),
        F.round(F.sqrt((sxx - sx * sx / n) / (n - 1)), 6).alias("stddev_qty"),
        F.round(
            (n * sxy - sx * sy) / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)), 6
        ).alias("corr_qty_price"),
    )


@register(
    "q_zscore_norm",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx
      FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           ROUND((l.l_quantity - s.sx / s.n)
                 / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1)), 6) AS z_qty
    FROM lineitem l JOIN s USING (l_returnflag)
    """,
    description="group-wise z-score normalization (feature-pipeline staple): per-key "
    "moments via DECIMAL power sums broadcast back onto rows — deterministic, one "
    "shuffle for the tiny stats side, map-side normalization of the big side",
    tags=("stats", "agg", "olap"),
)
def q_zscore_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    x = dec2("l_quantity")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dbl(F.sum(x)).alias("sx"),
        dbl(F.sum(x * x)).alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    stddev = F.sqrt((sxx - sx * sx / n) / (n - 1))
    return (
        li.join(F.broadcast(s), "l_returnflag")
        .select(
            "l_orderkey", "l_linenumber", "l_returnflag",
            F.round((F.col("l_quantity") - sx / n) / stddev, 6).alias("z_qty"),
        )
    )


@register(
    "q_percentile_cont",
    oracle="""
    SELECT l_returnflag,
           ROUND(CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS DOUBLE), 6) AS p50,
           ROUND(CAST(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity) AS DOUBLE), 6) AS p90,
           ROUND(CAST(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS DOUBLE), 6) AS p25
    FROM lineitem GROUP BY l_returnflag
    """,
    description="continuous (interpolated) percentiles per group — Spark's exact "
    "percentile() aggregate vs DuckDB's percentile_cont, both the standard "
    "1+(n-1)p linear interpolation; complements the rank-pick percentile_disc",
    tags=("stats", "olap"),
)
def q_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("p25"),
    )


@register(
    "q_mad_outliers",
    oracle="""
    WITH ranked AS (
      SELECT c_mktsegment, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer),
    med AS (SELECT c_mktsegment,
                   MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN c_acctbal END) AS med
            FROM ranked GROUP BY c_mktsegment),
    d AS (SELECT c.c_mktsegment, abs(c.c_acctbal - m.med) AS adev, m.med
          FROM customer c JOIN med m USING (c_mktsegment)),
    r2 AS (SELECT c_mktsegment, adev, med,
                  ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY adev) AS rn,
                  COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
           FROM d),
    mad AS (SELECT c_mktsegment,
                   MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN adev END) AS mad
            FROM r2 GROUP BY c_mktsegment)
    SELECT d.c_mktsegment, COUNT(*) AS n_customers,
           ROUND(MAX(d.med), 6) AS med, ROUND(MAX(mad.mad), 6) AS mad,
           CAST(COUNT(*) FILTER (WHERE d.adev > 3 * mad.mad) AS BIGINT) AS n_outliers
    FROM d JOIN mad USING (c_mktsegment) GROUP BY d.c_mktsegment
    """,
    description="robust outlier detection per group via median absolute "
    "deviation: rank-pick median (exactly engine-portable, no interpolation), "
    "rank-pick MAD of |x - med|, outliers = |x - med| > 3*MAD. Two window "
    "passes + a broadcast join of the per-group stats back onto the data — "
    "the quality-scoring robust-stats primitive (z-scores break under the "
    "heavy-tailed distributions 100 TB corpora actually have)",
    tags=("stats", "olap", "robust"),
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")

    def rank_pick_median(df: DataFrame, val: str, out: str) -> DataFrame:
        w = Window.partitionBy("c_mktsegment").orderBy(val)
        wn = Window.partitionBy("c_mktsegment")
        ranked = df.select(
            "c_mktsegment", val,
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        return ranked.groupBy("c_mktsegment").agg(
            F.max(
                F.when(F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")).cast("bigint"),
                       F.col(val))
            ).alias(out)
        )

    med = rank_pick_median(c, "c_acctbal", "med")
    d = c.join(F.broadcast(med), "c_mktsegment").select(
        "c_mktsegment", "med", F.abs(F.col("c_acctbal") - F.col("med")).alias("adev")
    )
    mad = rank_pick_median(d, "adev", "mad")
    return (
        d.join(F.broadcast(mad), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
    )


@register(
    "q_winsorized_mean",
    oracle="""
    WITH ranked AS (
      SELECT c_mktsegment, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer),
    bounds AS (
      SELECT c_mktsegment,
             MAX(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT) THEN c_acctbal END) AS lo,
             MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN c_acctbal END) AS hi
      FROM ranked GROUP BY c_mktsegment),
    clipped AS (
      SELECT c.c_mktsegment,
             CAST(LEAST(GREATEST(c.c_acctbal, b.lo), b.hi) AS DECIMAL(18,2)) AS v
      FROM customer c JOIN bounds b USING (c_mktsegment)),
    agg AS (
      SELECT c_mktsegment, COUNT(*) AS n_customers,
             CAST(SUM(v) * 100 AS BIGINT) AS s_cents
      FROM clipped GROUP BY c_mktsegment)
    SELECT c_mktsegment, n_customers,
           CAST(CASE WHEN s_cents < 0
                     THEN -((2 * (-s_cents) * 10000 + n_customers) // (2 * n_customers))
                     ELSE (2 * s_cents * 10000 + n_customers) // (2 * n_customers) END
                AS BIGINT) AS wmean_micro
    FROM agg
    """,
    description="winsorized mean per group (values clipped at the rank-pick "
    "p05/p95 before averaging — the robust-location estimate heavy-tailed "
    "quality scores need): bounds broadcast back, clipped sum rides "
    "DECIMAL cents, and the mean is emitted in integer micro-units with "
    "round-half-away integer arithmetic (ROUND(double) is tie-divergent "
    "across engines — see DEVNOTES)",
    tags=("stats", "olap", "robust"),
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    wn = Window.partitionBy("c_mktsegment")
    ranked = c.select(
        "c_mktsegment", "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(p: float):
        return F.max(
            F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("bigint"),
                   F.col("c_acctbal"))
        )

    bounds = ranked.groupBy("c_mktsegment").agg(
        pick(0.05).alias("lo"), pick(0.95).alias("hi")
    )
    clipped = c.join(F.broadcast(bounds), "c_mktsegment").select(
        "c_mktsegment",
        F.least(F.greatest(F.col("c_acctbal"), F.col("lo")), F.col("hi"))
        .cast("decimal(18,2)")
        .alias("v"),
    )
    agg = clipped.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.sum("v") * 100).cast("bigint").alias("s_cents"),
    )
    return agg.select(
        "c_mktsegment",
        "n_customers",
        F.expr(
            "CASE WHEN s_cents < 0 "
            "THEN -((2 * (-s_cents) * 10000 + n_customers) div (2 * n_customers)) "
            "ELSE (2 * s_cents * 10000 + n_customers) div (2 * n_customers) END"
        ).cast("bigint").alias("wmean_micro"),
    )


@register(
    "q_approx_percentile",
    oracle=None,  # sketch internals are engine-specific (Greenwald-Khanna /
    # t-digest variants differ); like the HLL row, the driver records a
    # rows-only check and the pytest pins an accuracy envelope vs exact
    description="approximate percentiles per group via percentile_approx "
    "(Greenwald-Khanna sketch, accuracy=10000): the mergeable "
    "constant-memory quantile structure for 100 TB profiling where the "
    "exact rank-pick's full sort-shuffle is unaffordable; rows-only by "
    "nature (sketch values are engine-specific) with the error envelope "
    "pinned against the exact percentiles in tests",
    tags=("stats", "olap", "sketch"),
)
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000)).alias("p50_approx"),
        F.percentile_approx("l_quantity", F.lit(0.9), F.lit(10000)).alias("p90_approx"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_approx_percentile_envelope",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)),
    c AS (
      SELECT l_returnflag, q, cnt,
             SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY q) AS cum,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      FROM r)
    SELECT l_returnflag,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN q END) AS BIGINT)
             AS p50_exact,
           CAST(MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN q END) AS BIGINT)
             AS p90_exact,
           TRUE AS p50_within, TRUE AS p90_within
    FROM c GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    description="accuracy envelope for percentile_approx (the oracle-"
    "paired twin that shrinks q_approx_percentile's rows-only check — the "
    "q_hll_registers/q_hll_estimate pattern): exact rank-pick p50/p90 per "
    "return flag from the (flag, quantity) rollup — the value domain is "
    "bounded, so the per-flag cumulative windows run on a tiny frame — "
    "plus CHECKED BOOLEANS asserting the GK estimate's TRUE rank interval "
    "[count(<est)+1, count(<=est)] intersects the guaranteed band "
    "rank(q)±(n/accuracy + 1); the oracle emits the exact percentiles and "
    "literal TRUE — a GK accuracy violation hash-fails the gate. SCALE: "
    "one wordcount-shaped rollup shuffle + broadcast of the 3-row "
    "estimate frame; for unbounded value domains pre-bucket the values",
    tags=("stats", "olap", "sketch", "eval"),
)
def q_approx_percentile_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("q")
    )
    roll = li.groupBy("l_returnflag", "q").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = roll.select(
        "l_returnflag", "q", "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    exact = cum.groupBy("l_returnflag").agg(
        F.max("n").cast("bigint").alias("n"),
        F.min(F.when(F.expr("cum >= (n + 1) div 2"), F.col("q")))
        .cast("bigint").alias("p50_exact"),
        F.min(F.when(F.expr("cum >= (9 * n + 9) div 10"), F.col("q")))
        .cast("bigint").alias("p90_exact"),
    )
    est = li.groupBy("l_returnflag").agg(
        F.percentile_approx("q", F.lit(0.5), F.lit(10000)).alias("e50"),
        F.percentile_approx("q", F.lit(0.9), F.lit(10000)).alias("e90"),
    )
    ranks = (
        roll.join(F.broadcast(est), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            *[
                F.sum(F.when(cond, F.col("cnt")).otherwise(F.lit(0)))
                .cast("bigint").alias(name)
                for name, cond in [
                    ("r50_le", F.col("q") <= F.col("e50")),
                    ("r50_lt", F.col("q") < F.col("e50")),
                    ("r90_le", F.col("q") <= F.col("e90")),
                    ("r90_lt", F.col("q") < F.col("e90")),
                ]
            ]
        )
    )

    def within(le: str, lt: str, q_scaled: int):
        # the estimate's true rank interval [lt+1, le] must intersect
        # [q·n − (n/10000 + 1), q·n + (n/10000 + 1)], all ×10000 integer
        return (
            (F.col(le) * 10000 >= q_scaled * F.col("n") - F.col("n") - 10000)
            & ((F.col(lt) + 1) * 10000 <= q_scaled * F.col("n") + F.col("n") + 10000)
        )

    return (
        exact.join(F.broadcast(ranks), "l_returnflag")
        .select(
            "l_returnflag", "n", "p50_exact", "p90_exact",
            within("r50_le", "r50_lt", 5000).alias("p50_within"),
            within("r90_le", "r90_lt", 9000).alias("p90_within"),
        )
        .orderBy("l_returnflag")
    )


# Benford expected first-digit fractions as shared literals (computed once
# here in Python — both engines parse the identical doubles; no engine-side
# transcendental is evaluated).
_BENFORD = {d: __import__("math").log10(1 + 1 / d) for d in range(1, 10)}
_BENFORD_SQL = " ".join(
    f"WHEN '{d}' THEN {_BENFORD[d]!r}" for d in range(1, 10)
)


@register(
    "q_benford_profile",
    oracle=f"""
    WITH v AS (SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                      AS digit
               FROM orders WHERE o_totalprice >= 1),
    g AS (SELECT digit, COUNT(*) AS n FROM v GROUP BY digit),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g)
    SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / total, 6) AS obs_frac,
           CASE digit {_BENFORD_SQL} END AS exp_frac,
           ROUND(abs(CAST(n AS DOUBLE) / total - CASE digit {_BENFORD_SQL} END), 6)
               AS abs_dev
    FROM g, t
    """,
    description="Benford first-digit profile of order totals (the data-quality "
    "/ fraud-screen distribution test): first digit extracted via BIGINT "
    "string (portable — float formatting is not), expected log10(1+1/d) "
    "fractions shipped as shared Python-computed literals so no engine libm "
    "runs; one digit-keyed aggregation + 1-row broadcast total",
    tags=("stats", "profiling", "olap"),
)
def q_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    )
    g = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = g.agg(F.sum("n").cast("bigint").alias("total"))
    exp = None
    for d in range(1, 10):
        cond = F.col("digit") == str(d)
        exp = F.when(cond, _BENFORD[d]) if exp is None else exp.when(cond, _BENFORD[d])
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("obs_frac"),
            exp.alias("exp_frac"),
            F.round(
                F.abs(F.col("n").cast("double") / F.col("total") - exp), 6
            ).alias("abs_dev"),
        )
    )


@register(
    "q_value_histogram",
    oracle="""
    WITH b AS (SELECT CASE WHEN mx = mn THEN 0
                      ELSE CAST(least(floor((l_extendedprice - mn) / ((mx - mn) / 12)), 11)
                           AS INTEGER) END AS bin
               FROM lineitem,
                    (SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
                     FROM lineitem))
    SELECT bin, COUNT(*) AS n
    FROM b GROUP BY bin
    """,
    description="equi-width 12-bin histogram of line prices: global min/max as "
    "a 1-row broadcast (no driver action), bin = floor((x-mn)/width) clamped "
    "at the top edge — the one-pass-plus-broadcast distribution profile; all "
    "arithmetic is a fixed-order IEEE chain, engine-identical; degenerate "
    "constant-valued input (mx == mn, width 0 — Spark's non-ANSI x/0 is NULL "
    "while DuckDB's is inf) collapses to a single bin 0 on BOTH engines",
    tags=("stats", "profiling", "olap"),
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    mm = li.agg(
        F.min("l_extendedprice").alias("mn"), F.max("l_extendedprice").alias("mx")
    )
    bin_ = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("l_extendedprice") - F.col("mn"))
                / ((F.col("mx") - F.col("mn")) / F.lit(12))
            ),
            F.lit(11),
        ).cast("int")
    )
    return (
        li.crossJoin(F.broadcast(mm))
        .select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- Bloom filter: distributed mergeable bitset sketch ---------------------

def _bloom_pos_sql(key_expr: str, j: int) -> str:
    from platform_etl_backend_spark.operators.stats import BLOOM_BITS

    return (
        f"CAST(('0x' || substr(md5('{j}:' || {key_expr}), 1, 12)) AS BIGINT) % {BLOOM_BITS}"
    )


def _bloom_build_cte() -> str:
    from platform_etl_backend_spark.operators.stats import BLOOM_HASHES, BLOOM_WORD

    plist = ",".join(_bloom_pos_sql("c_name", j) for j in range(BLOOM_HASHES))
    return f"""
    bpos AS (SELECT unnest([{plist}]) AS pos FROM customer),
    words AS (
      SELECT pos // {BLOOM_WORD} AS word_idx,
             CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD} AS INT)) AS BIGINT) AS bits
      FROM bpos GROUP BY pos // {BLOOM_WORD})
    """


def _register_bloom() -> None:
    from platform_etl_backend_spark.operators.stats import (
        BLOOM_HASHES,
        BLOOM_WORD,
        bloom_build,
        bloom_probe_counts,
    )

    @register(
        "q_bloom_build",
        oracle=f"""
        WITH {_bloom_build_cte()}
        SELECT word_idx, bits FROM words
        """,
        description="Bloom filter build as a distributed mergeable bitset "
        "(Bloom 1970): k=4 md5-derived bit positions per key fan out "
        "map-side, ONE bit_or aggregation keyed on 32-bit word index — the "
        "partial-aggregate/merge shape, so shard/day sketches union for "
        "free; md5 positions (not murmur) make the whole bitset "
        "hash-matchable across engines",
        tags=("sketch", "olap", "bloom"),
    )
    def q_bloom_build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return bloom_build(table(spark, sf_dir, "customer"), "c_name").orderBy("word_idx")

    probe_sql = (
        "SELECT p_name AS pk FROM part UNION "
        "SELECT c_name FROM customer WHERE c_custkey % 5 = 0"
    )
    plist = ",".join(_bloom_pos_sql("pk", j) for j in range(BLOOM_HASHES))

    @register(
        "q_bloom_probe",
        oracle=f"""
        WITH {_bloom_build_cte()},
        probes AS ({probe_sql}),
        pp AS (SELECT pk, unnest([{plist}]) AS pos FROM probes),
        hit AS (
          SELECT pk,
                 SUM(CASE WHEN (COALESCE(w.bits, 0)
                                & (CAST(1 AS BIGINT) << CAST(pp.pos % {BLOOM_WORD} AS INT))) <> 0
                          THEN 1 ELSE 0 END) = {BLOOM_HASHES} AS bloom_positive
          FROM pp LEFT JOIN words w ON pp.pos // {BLOOM_WORD} = w.word_idx
          GROUP BY pk),
        truth AS (SELECT DISTINCT c_name AS pk FROM customer),
        j AS (SELECT h.pk, h.bloom_positive, (t.pk IS NOT NULL) AS present
              FROM hit h LEFT JOIN truth t ON h.pk = t.pk)
        SELECT COUNT(*) AS n_probes,
               CAST(SUM(CASE WHEN bloom_positive THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_positive,
               CAST(SUM(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT) AS n_true_present,
               CAST(SUM(CASE WHEN bloom_positive AND NOT present THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positive,
               CAST(SUM(CASE WHEN NOT bloom_positive AND present THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negative
        FROM j
        """,
        description="Bloom filter probe: mixed present/absent key set checked "
        "against the broadcast word table (all k bits set => positive), "
        "tallied against exact membership — false negatives MUST be 0 (the "
        "Bloom guarantee), false positives are the deterministic price of "
        "m/n; at scale the filter pre-screens keys so the exact join runs "
        "only on bloom-positives",
        tags=("sketch", "olap", "bloom"),
    )
    def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
        c = table(spark, sf_dir, "customer")
        probe = (
            table(spark, sf_dir, "part").select(F.col("p_name").alias("name"))
            .union(
                c.where(F.col("c_custkey") % 5 == 0).select(F.col("c_name").alias("name"))
            )
        )
        return bloom_probe_counts(c.select(F.col("c_name").alias("name")), probe, "name")


_register_bloom()


# --- engine-portable HyperLogLog -------------------------------------------

def _register_hll() -> None:
    from platform_etl_backend_spark.operators.stats import (
        duck_hll_cte,
        duck_hll_estimate_sql,
        hll_registers,
    )

    @register(
        "q_hll_registers",
        oracle=f"""
        SELECT bucket, mx FROM ({duck_hll_cte("l_orderkey", "lineitem")})
        """,
        description="engine-portable HyperLogLog register table (Flajolet "
        "2007): md5-derived 48-bit hashes make every register value "
        "bit-identical across engines — the full sketch hash-matches, which "
        "Spark's native HLL++ (engine-specific serialization, the rows-only "
        "A5 row) cannot do; map-side hashing + ONE bucket-keyed max, "
        "mergeable by bucket-wise MAX like any partial aggregate",
        tags=("sketch", "olap", "hll"),
    )
    def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
        return hll_registers(table(spark, sf_dir, "lineitem"), "l_orderkey").orderBy("bucket")

    @register(
        "q_hll_estimate",
        oracle=f"""
        {duck_hll_estimate_sql("l_orderkey", "lineitem", "orderkeys")}
        UNION ALL
        {duck_hll_estimate_sql("l_suppkey", "lineitem", "suppkeys")}
        ORDER BY key
        """,
        description="HyperLogLog cardinality estimates next to exact counts "
        "— BOTH correction branches exercised (orderkeys: raw harmonic-mean "
        "path; suppkeys: linear-counting small-range path via the portable "
        "ratio log); the harmonic denominator is a SCALED-INTEGER sum "
        "(2^(41-M_j)) so no float accumulates, and the one float literal "
        "(alpha*m^2*2^41) is shared with the oracle",
        tags=("sketch", "olap", "hll"),
    )
    def q_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
        from platform_etl_backend_spark.operators.stats import hll_estimates_grouped

        li = table(spark, sf_dir, "lineitem")
        keyed = li.select(
            F.lit("orderkeys").alias("label"), F.col("l_orderkey").alias("k")
        ).unionAll(
            li.select(F.lit("suppkeys").alias("label"), F.col("l_suppkey").alias("k"))
        )
        # one distinct shuffle + two tiny grouped aggs for BOTH sketches
        # instead of one pipeline per sketch, each re-scanning lineitem
        return hll_estimates_grouped(keyed).orderBy("key")


_register_hll()


# --- KMV / theta sketch: distinct counting with set algebra ----------------

def _register_kmv() -> None:
    from platform_etl_backend_spark.operators.stats import KMV_K, kmv_set_estimates

    knum = float((KMV_K - 1) * (1 << 48))  # exact in double: 2^54 - 2^48
    hash_sql = "CAST(('0x' || substr(md5('kmv:' || key), 1, 12)) AS BIGINT)"
    est = (
        f"CASE WHEN {{n}} >= {KMV_K} THEN ROUND({knum!r} / CAST({{mx}} AS DOUBLE), 6) "
        f"ELSE CAST({{n}} AS DOUBLE) END"
    )

    @register(
        "q_kmv_set_estimates",
        oracle=f"""
        WITH a_keys AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key FROM orders),
        b_keys AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS key FROM customer WHERE c_custkey % 3 <> 0),
        ha AS (SELECT DISTINCT {hash_sql} AS hv FROM a_keys),
        hb AS (SELECT DISTINCT {hash_sql} AS hv FROM b_keys),
        sa AS MATERIALIZED (SELECT hv FROM ha ORDER BY hv LIMIT {KMV_K}),
        sb AS MATERIALIZED (SELECT hv FROM hb ORDER BY hv LIMIT {KMV_K}),
        su AS MATERIALIZED (SELECT hv FROM (SELECT hv FROM sa UNION SELECT hv FROM sb)
                            ORDER BY hv LIMIT {KMV_K}),
        st AS (
          SELECT (SELECT COUNT(*) FROM sa) AS n_a, (SELECT MAX(hv) FROM sa) AS mx_a,
                 (SELECT COUNT(*) FROM sb) AS n_b, (SELECT MAX(hv) FROM sb) AS mx_b,
                 (SELECT COUNT(*) FROM su) AS n_u, (SELECT MAX(hv) FROM su) AS mx_u,
                 (SELECT COUNT(*) FROM ha) AS ex_a, (SELECT COUNT(*) FROM hb) AS ex_b,
                 (SELECT COUNT(*) FROM (SELECT hv FROM ha INTERSECT SELECT hv FROM hb)) AS ex_i,
                 (SELECT COUNT(*) FROM sa JOIN sb USING (hv)
                  WHERE hv <= (SELECT MAX(hv) FROM su)) AS n_cb)
        SELECT 'a' AS key, CAST(ex_a AS BIGINT) AS n_exact,
               {est.format(n="n_a", mx="mx_a")} AS estimate FROM st
        UNION ALL
        SELECT 'b', CAST(ex_b AS BIGINT), {est.format(n="n_b", mx="mx_b")} FROM st
        UNION ALL
        SELECT 'union', CAST(ex_a + ex_b - ex_i AS BIGINT),
               {est.format(n="n_u", mx="mx_u")} FROM st
        UNION ALL
        SELECT 'intersection', CAST(ex_i AS BIGINT),
               ROUND((CAST(n_cb AS DOUBLE) / CAST(n_u AS DOUBLE))
                     * ({est.format(n="n_u", mx="mx_u")}), 6) FROM st
        ORDER BY key
        """,
        description="KMV/theta sketch set algebra (Beyer 2007): k=64 minimum "
        "md5 hash values per key set — distinct-count estimates for two key "
        "sets PLUS their union (min-k merge) and intersection (theta-cut "
        "scaling), the set feature HLL cannot offer; sketches build as "
        "TakeOrderedAndProject, every estimate is one IEEE division of "
        "exact integers, whole sketch bit-identical across engines",
        tags=("sketch", "olap", "kmv"),
    )
    def q_kmv_set_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
        o = table(spark, sf_dir, "orders")
        c = table(spark, sf_dir, "customer").where(F.col("c_custkey") % 3 != 0)
        return kmv_set_estimates(o, "o_custkey", c, "c_custkey").orderBy("key")


_register_kmv()


# --- AMS (Alon-Matias-Szegedy) F2 second-moment sketch ---------------------

@register(
    "q_ams_sketch",
    oracle="""
    WITH c AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY l_partkey),
    h AS (
      SELECT l_partkey, c,
             CAST(('0x' || substr(md5('ams:' || CAST(l_partkey AS VARCHAR)), 1, 12))
                  AS BIGINT) AS hv
      FROM c),
    x AS (
      SELECT i.i,
             CAST(SUM((1 - 2 * ((h.hv >> i.i) % 2)) * h.c) AS BIGINT) AS x
      FROM h CROSS JOIN (SELECT UNNEST(range(0, 16)) AS i) i
      GROUP BY i.i),
    grp AS (
      SELECT i // 4 AS j, CAST(SUM(x * x) AS BIGINT) AS gsum
      FROM x GROUP BY i // 4),
    med AS (
      SELECT gsum AS f2_est_x4
      FROM grp ORDER BY gsum, j LIMIT 1 OFFSET 2),
    ex AS (
      SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM c)
    SELECT f2_est_x4, f2_exact, n_keys,
           CAST(f2_est_x4 AS DOUBLE) / (4.0 * CAST(f2_exact AS DOUBLE)) AS ratio
    FROM med CROSS JOIN ex
    """,
    description="AMS/tug-of-war F2 sketch (Alon-Matias-Szegedy 1996) over "
    "lineitem part frequencies: 16 independent estimators whose +-1 signs "
    "are md5 bits (portable), X_i = sum(sign_i(k)*c_k) as exact BIGINTs, "
    "boosted the classical way — median of 4 means of 4 X_i^2 each (the "
    "mean kept as an exact x4-scaled BIGINT sum, the median a rank-pick "
    "with the group index as tiebreak; no float compare anywhere) beside "
    "the exact F2 = sum(c^2). Completes the mergeable-sketch family "
    "(count-min / Bloom / HLL / KMV / AMS). SCALE: counts aggregate "
    "map-side; the 16-way fan-out happens on the |distinct keys| frame and "
    "each estimator is one BIGINT sum — sketch state is 16 numbers, "
    "mergeable by addition across shards",
    tags=("sketch", "olap", "ams"),
)
def q_ams_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    c = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    h = c.withColumn(
        "hv",
        F.expr(
            "CAST(conv(substr(md5('ams:' || CAST(l_partkey AS STRING)), 1, 12),"
            " 16, 10) AS BIGINT)"
        ),
    )
    x = (
        h.select("hv", "c", F.explode(F.sequence(F.lit(0), F.lit(15))).alias("i"))
        .groupBy("i")
        .agg(
            F.sum(
                (F.lit(1) - 2 * F.expr("(hv >> i) % 2")) * F.col("c")
            )
            .cast("bigint")
            .alias("x")
        )
    )
    grp = x.groupBy(F.expr("i div 4").cast("bigint").alias("j")).agg(
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("gsum")
    )
    med = grp.select(
        F.element_at(
            F.sort_array(F.collect_list(F.struct("gsum", "j"))), 3
        )["gsum"].cast("bigint").alias("f2_est_x4")
    )
    ex = c.agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("f2_exact"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    return med.crossJoin(F.broadcast(ex)).select(
        "f2_est_x4", "f2_exact", "n_keys",
        (
            F.col("f2_est_x4").cast("double")
            / (F.lit(4.0) * F.col("f2_exact").cast("double"))
        ).alias("ratio"),
    )


# --- Spearman rank correlation ----------------------------------------------

@register(
    "q_spearman_corr",
    oracle="""
    WITH r AS (
      SELECT l_returnflag AS grp,
             2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS r2x,
             2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS r2y
      FROM lineitem),
    m AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r2x) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(r2y) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(r2x AS DECIMAL(38,0)) * r2y) AS DECIMAL(38,0)) AS sxy,
             CAST(SUM(CAST(r2x AS DECIMAL(38,0)) * r2x) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(CAST(r2y AS DECIMAL(38,0)) * r2y) AS DECIMAL(38,0)) AS syy
      FROM r GROUP BY grp)
    SELECT grp, n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho
    FROM m ORDER BY grp
    """,
    description="Spearman rank correlation of quantity vs extendedprice per "
    "return flag: tie-aware midranks carried as EXACT integers (2*midrank = "
    "2*rank + tiecount - 1, the q_mann_whitney convention — Pearson is "
    "affine-invariant so the x2 scale cancels), all five moments as exact "
    "DECIMAL(38,0) sums, rho = one final IEEE division/sqrt of identical "
    "exact operands. SCALE: two rank windows per group key (the same "
    "sort-based shuffle a global rank needs), then a map-side moment rollup "
    "— no per-pair work, O(n log n) not O(n^2)",
    tags=("olap", "stats", "correlation"),
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    # 2*midrank = 2*rank + ties - 1 = rank + count(v' <= v): the tie count
    # folds into the rank window's own (partition, order) spec as a
    # RANGE-unbounded-to-current count, so each axis is ONE Window node
    # (one grp exchange + one sort) instead of a second (grp, value)-keyed
    # window pass per axis
    wx = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    wxr = wx.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    wy = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wyr = wy.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    r = li.select(
        F.col("l_returnflag").alias("grp"),
        (F.rank().over(wx) + F.count(F.lit(1)).over(wxr))
        .cast("bigint").alias("r2x"),
        (F.rank().over(wy) + F.count(F.lit(1)).over(wyr))
        .cast("bigint").alias("r2y"),
    )
    d38 = "decimal(38,0)"
    m = r.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r2x").cast(d38).alias("sx"),
        F.sum("r2y").cast(d38).alias("sy"),
        F.sum(F.col("r2x").cast(d38) * F.col("r2y")).cast(d38).alias("sxy"),
        F.sum(F.col("r2x").cast(d38) * F.col("r2x")).cast(d38).alias("sxx"),
        F.sum(F.col("r2y").cast(d38) * F.col("r2y")).cast(d38).alias("syy"),
    )
    return m.select(
        "grp", "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
            ),
            6,
        ).alias("rho"),
    ).orderBy("grp")


# --- mergeable quantile summary (per-shard order statistics) ------------------

_MQ_SHARDS = 8
_MQ_KEEP = 32
_MQ_QS = (25, 50, 75, 90)


# The mergeable quantile summary: per-shard order statistics (rk), every
# stride-th kept with its run weight w (summ), the merged cumulative
# weights (cum) and the row count (nn).
_MQ_SUMMARY_DUCK = f"""
    WITH src AS (
      SELECT l_orderkey % {_MQ_SHARDS} AS shard,
             CAST(l_extendedprice AS DOUBLE) AS v,
             l_orderkey, l_linenumber
      FROM lineitem),
    rk AS (
      SELECT shard, v,
             ROW_NUMBER() OVER (PARTITION BY shard
                                ORDER BY v, l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY shard) AS n_s
      FROM src),
    summ AS (
      SELECT shard, v, rn,
             CAST(LEAST((n_s + {_MQ_KEEP} - 1) // {_MQ_KEEP},
                        n_s - rn + 1) AS BIGINT) AS w
      FROM rk
      WHERE (rn - 1) % ((n_s + {_MQ_KEEP} - 1) // {_MQ_KEEP}) = 0),
    cum AS (
      SELECT v,
             CAST(SUM(w) OVER (ORDER BY v, shard, rn
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cumw
      FROM summ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM src),
"""


def _mq_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem prices ``v`` with their ``shard`` and row key."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") % _MQ_SHARDS).alias("shard"),
        F.col("l_extendedprice").cast("double").alias("v"),
        "l_orderkey", "l_linenumber",
    )


def _mq_stride() -> Column:
    """A shard's summary stride ceil(n_s / _MQ_KEEP)."""
    return F.expr(f"(n_s + {_MQ_KEEP} - 1) div {_MQ_KEEP}")


def _mq_ranked(src: DataFrame) -> DataFrame:
    """Each row's rank ``rn`` within its shard and the shard size ``n_s``."""
    wsh = Window.partitionBy("shard").orderBy("v", "l_orderkey", "l_linenumber")
    return src.select(
        "shard", "v",
        F.row_number().over(wsh).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("shard")).alias("n_s"),
    )


def _mq_cumulative(rk: DataFrame) -> DataFrame:
    """The merged summary: each kept value ``v`` and its cumulative weight
    ``cumw`` in value order."""
    stride = _mq_stride()
    summ = rk.where((F.col("rn") - 1) % stride == 0).select(
        "shard", "v", "rn",
        F.least(stride, F.col("n_s") - F.col("rn") + 1).cast("bigint").alias("w"),
    )
    return summ.select(
        "v",
        F.sum("w")
        .over(
            Window.orderBy("v", "shard", "rn")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("bigint")
        .alias("cumw"),
    )


@register(
    "q_mergeable_quantiles",
    oracle=_MQ_SUMMARY_DUCK + f"""
    targets AS (SELECT UNNEST({list(_MQ_QS)}) AS q)
    SELECT CAST(t.q AS INTEGER) AS q,
           MIN(c.v) AS approx_value,
           (SELECT n FROM nn) AS n
    FROM targets t JOIN cum c
      ON c.cumw >= (t.q * (SELECT n FROM nn) + 99) // 100
    GROUP BY t.q ORDER BY t.q
    """,
    description="mergeable distributed quantile summary (the per-shard "
    "order-statistic compaction behind GK/KLL-class sketches, made fully "
    "deterministic): each shard keeps every m-th order statistic (m = "
    "ceil(n_s/32)) weighted by the run it represents, summaries merge by "
    "weighted union, and the q-quantile is the smallest value whose "
    "cumulative weight reaches ceil(q*N/100) — rank error bounded by "
    "max shard stride, all arithmetic integer, value a passthrough "
    "DOUBLE. The engine-portable counterpart of the rows-only GK sketch "
    "(q_approx_percentile). SCALE: per-shard windows partition by shard; "
    "only shards*32 summary rows merge; the final scan is summary-sized",
    tags=("olap", "sketch", "quantile"),
)
def q_mergeable_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _mq_source(spark, sf_dir)
    cum = _mq_cumulative(_mq_ranked(src))
    nn = src.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    targets = spark.createDataFrame([(q,) for q in _MQ_QS], "q int")
    return (
        F.broadcast(targets)
        .crossJoin(F.broadcast(nn))
        .join(cum, F.col("cumw") >= F.expr("(q * n + 99) div 100"))
        .groupBy("q", "n")
        .agg(F.min("v").alias("approx_value"))
        .select("q", "approx_value", "n")
        .orderBy("q")
    )


# --- equi-depth histogram ------------------------------------------------------

_EQD_BUCKETS = 8


@register(
    "q_equidepth_histogram",
    oracle=f"""
    WITH v AS (
      SELECT CAST(l_extendedprice AS DOUBLE) AS v,
             NTILE({_EQD_BUCKETS}) OVER (
               ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
      FROM lineitem)
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(v) AS lo, MAX(v) AS hi
    FROM v GROUP BY bucket ORDER BY bucket
    """,
    description="equi-DEPTH histogram of extended price (the optimizer-"
    "statistics/data-profiling sibling of q_value_histogram's equi-WIDTH "
    "bins): NTILE over a UNIQUELY tie-broken total order assigns near-"
    "equal row counts per bucket (both engines share the SQL-standard "
    "earlier-buckets-get-the-remainder rule), then one rollup emits "
    "count + [lo, hi] boundary values — boundaries are passthrough "
    "doubles (no rounding scaffolding needed). SCALE: the NTILE is the "
    "two-pass distributed rank (operators/ranking.py: range exchange + "
    "broadcast per-partition offsets + the SQL-standard remainder rule "
    "as arithmetic — no single-partition sort) + a map-side rollup; for "
    "an approximate variant at extreme scale the mergeable-quantile "
    "summary (q_mergeable_quantiles) provides the bucket boundaries "
    "without any rank at all",
    tags=("olap", "histogram", "profiling"),
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.ranking import two_pass_ntile

    li = table(spark, sf_dir, "lineitem")
    v = two_pass_ntile(
        li.select("l_extendedprice", "l_orderkey", "l_linenumber"),
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        _EQD_BUCKETS,
        bucket_col="bucket",
    ).select(F.col("l_extendedprice").cast("double").alias("v"), "bucket")
    return (
        v.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .select(F.col("bucket").cast("int").alias("bucket"), "n", "lo", "hi")
        .orderBy("bucket")
    )


@register(
    "q_quantile_rank_error",
    oracle=_MQ_SUMMARY_DUCK + f"""
    stride AS (
      SELECT CAST(SUM(st - 1) AS BIGINT) AS err_bound FROM (
        SELECT shard, MAX((n_s + {_MQ_KEEP} - 1) // {_MQ_KEEP}) AS st
        FROM rk GROUP BY shard)),
    targets AS (SELECT UNNEST({list(_MQ_QS)}) AS q),
    approx AS (
      SELECT CAST(t.q AS INTEGER) AS q, MIN(c.v) AS approx_value
      FROM targets t JOIN cum c
        ON c.cumw >= (t.q * (SELECT n FROM nn) + 99) // 100
      GROUP BY t.q),
    g AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v, l_orderkey, l_linenumber)
               AS grn
      FROM src),
    exact AS (
      SELECT CAST(t.q AS INTEGER) AS q, g.v AS exact_value
      FROM targets t JOIN g
        ON g.grn = (t.q * (SELECT n FROM nn) + 99) // 100),
    ranks AS (
      SELECT a.q,
             CAST(SUM(CASE WHEN s.v <= a.approx_value THEN 1 ELSE 0 END)
                  AS BIGINT) AS true_rank
      FROM approx a CROSS JOIN src s GROUP BY a.q)
    SELECT a.q, a.approx_value, e.exact_value, r.true_rank,
           (SELECT CAST((a.q * n + 99) // 100 AS BIGINT) FROM nn)
             AS target_rank,
           CAST(ABS(r.true_rank
                    - (SELECT (a.q * n + 99) // 100 FROM nn)) AS BIGINT)
             AS rank_err,
           (SELECT err_bound FROM stride) AS err_bound
    FROM approx a JOIN exact e ON a.q = e.q JOIN ranks r ON a.q = r.q
    ORDER BY a.q
    """,
    description="rank-error audit of the mergeable quantile summary "
    "against the EXACT rank-pick percentiles — the approximation-"
    "quality eval beside q_minhash_recall: for each target quantile, "
    "the summary's estimate, the exact value, the estimate's TRUE rank "
    "in the full data, the absolute rank error, and the summary's "
    "theoretical bound (sum over shards of stride-1 — each shard's "
    "runs can straddle the cut) so the guarantee is checkable in the "
    "output itself. SCALE: the summary side is "
    "summary-sized; the true-rank pass is one broadcast comparison "
    "over the scan (4 counters, map-side); the exact side is the same "
    "global sort any exact percentile costs",
    tags=("olap", "sketch", "quantile", "ml-eval"),
)
def q_quantile_rank_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _mq_source(spark, sf_dir).persist()
    rk = _mq_ranked(src)
    cum = _mq_cumulative(rk)
    nn = src.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    stride = (
        rk.groupBy("shard")
        .agg(F.max(_mq_stride()).alias("st"))
        .agg(F.sum(F.col("st") - 1).cast("bigint").alias("err_bound"))
    )
    targets = spark.sql(
        "SELECT * FROM VALUES " + ", ".join(f"({q})" for q in _MQ_QS) + " AS t(q)"
    )
    tgt = targets.crossJoin(F.broadcast(nn)).select(
        F.col("q").cast("int").alias("q"),
        F.expr("CAST((q * n + 99) div 100 AS BIGINT)").alias("target_rank"),
    ).localCheckpoint()  # feeds approx, exact, and the final join
    approx = (
        tgt.join(cum, F.col("cumw") >= F.col("target_rank"))
        .groupBy("q", "target_rank")
        .agg(F.min("v").alias("approx_value"))
    )
    # exact ground-truth ranks via the two-pass distributed row_number
    # (even the eval's truth side must not sort the corpus in one task)
    from platform_etl_backend_spark.operators.ranking import two_pass_row_number

    g = two_pass_row_number(
        src.select("v", "l_orderkey", "l_linenumber"),
        ["v", "l_orderkey", "l_linenumber"], rn_col="grn",
    ).select("v", "grn")
    exact = tgt.join(g, F.col("grn") == F.col("target_rank")).select(
        "q", F.col("v").alias("exact_value")
    )
    ranks = (
        F.broadcast(approx).crossJoin(src.select(F.col("v").alias("sv")))
        .groupBy("q")
        .agg(
            F.sum(F.when(F.col("sv") <= F.col("approx_value"), 1).otherwise(0))
            .cast("bigint")
            .alias("true_rank")
        )
    )
    return (
        approx.join(exact, "q")
        .join(ranks, "q")
        .crossJoin(F.broadcast(stride))
        .select(
            "q", "approx_value", "exact_value", "true_rank", "target_rank",
            F.abs(F.col("true_rank") - F.col("target_rank"))
            .cast("bigint")
            .alias("rank_err"),
            "err_bound",
        )
        .orderBy("q")
    )


# --- price-volume-mix decomposition -------------------------------------------------


def _srha(num: str, den: str) -> str:
    """Signed round-half-away integer division as shared SQL text (the
    q_shapley_attribution rule: DuckDB // floors while Spark div truncates
    for negatives — taking abs first sidesteps both)."""
    return (
        f"(CASE WHEN ({num}) < 0"
        f" THEN -((2 * (-({num})) + ({den})) IDIV (2 * ({den})))"
        f" ELSE (2 * ({num}) + ({den})) IDIV (2 * ({den})) END)"
    )


@register(
    "q_mix_shift",
    oracle=f"""
    WITH base AS (
      SELECT c.c_mktsegment AS seg, YEAR(o.o_orderdate) AS yr,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE YEAR(o.o_orderdate) IN (1996, 1997)),
    per AS (
      SELECT seg,
             CAST(SUM(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN yr = 1996 THEN cents ELSE 0 END) AS BIGINT) AS rev0,
             CAST(SUM(CASE WHEN yr = 1997 THEN cents ELSE 0 END) AS BIGINT) AS rev1
      FROM base GROUP BY seg),
    fx AS (
      SELECT seg, n0, n1, rev0, rev1,
             CAST({_srha("(n1 - n0) * rev0", "n0").replace("IDIV", "//")}
                  AS BIGINT) AS volume_effect,
             CAST({_srha("n0 * rev1 * 1 - rev0 * n1", "n1").replace("IDIV", "//")}
                  AS BIGINT) AS price_effect
      FROM per WHERE n0 > 0 AND n1 > 0)
    SELECT seg, n0, n1, rev0, rev1, volume_effect, price_effect,
           CAST(rev1 - rev0 - volume_effect - price_effect AS BIGINT)
             AS joint_effect
    FROM fx ORDER BY seg
    """,
    description="price-volume-mix decomposition of the 1996->1997 revenue "
    "change per market segment (the BI variance-bridge: Delta-rev = "
    "volume effect (Delta-n x base avg price) + price effect (Delta-avg "
    "x base volume) + joint term, with the joint defined as the exact "
    "remainder so the bridge RECONCILES to the cent by construction): "
    "exact DECIMAL-cent sums, signed round-half-away integer divisions "
    "(the Shapley signed-idiv rule — engine // vs div negative behavior "
    "never evaluates). SCALE: one join + one segment rollup; the "
    "decomposition is a bounded-frame projection",
    tags=("olap", "relational", "finance"),
)
def q_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").where(
        F.year("o_orderdate").isin(1996, 1997)
    ).select(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0)).cast("bigint").alias("n0"),
            F.sum(F.when(F.col("yr") == 1997, 1).otherwise(0)).cast("bigint").alias("n1"),
            F.sum(F.when(F.col("yr") == 1996, F.col("cents")).otherwise(0)).cast("bigint").alias("rev0"),
            F.sum(F.when(F.col("yr") == 1997, F.col("cents")).otherwise(0)).cast("bigint").alias("rev1"),
        )
        .where((F.col("n0") > 0) & (F.col("n1") > 0))
    )
    fx = per.selectExpr(
        "seg", "n0", "n1", "rev0", "rev1",
        f"CAST({_srha('(n1 - n0) * rev0', 'n0').replace('IDIV', 'div')} AS BIGINT)"
        " AS volume_effect",
        f"CAST({_srha('n0 * rev1 * 1 - rev0 * n1', 'n1').replace('IDIV', 'div')} AS BIGINT)"
        " AS price_effect",
    )
    return fx.selectExpr(
        "seg", "n0", "n1", "rev0", "rev1", "volume_effect", "price_effect",
        "CAST(rev1 - rev0 - volume_effect - price_effect AS BIGINT) AS joint_effect",
    ).orderBy("seg")
