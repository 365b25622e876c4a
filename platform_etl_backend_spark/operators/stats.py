"""Disproportionality statistics: LLR contingency + Monte-Carlo critical values.

Reference semantics (NOT code): openfda stages —
- ``PrepareSummaryStatistics.scala:30-46``: per-entity report counts via
  windowed distinct counts over (reaction), (drug), (drug, reaction).
- ``PrepareForMontecarlo.scala:20-35``: contingency A/B/C/D and
  llr = A·(ln A − ln(A+B)) + C·(ln C − ln(C+D)) − (A+C)·(ln(A+C) − ln N).
- ``MonteCarloSampling.scala:23-48`` + ``utils/MathUtils.scala:9-79``:
  per-drug multinomial simulation of max-LLR, critical value = the
  ``prob``-percentile over permutations.

Engine-native port notes:
- The reference uses ``approx_count_distinct`` (rsd 0.05) for the counts;
  this port defaults to EXACT distinct counts so results are deterministic
  and oracle-checkable, with ``approx=True`` available for the faithful
  at-scale behavior (SURVEY §4 "preserve-or-fix" decision, documented).
- The simulation is a grouped ``applyInPandas`` (Arrow-batched, numpy
  vectorized over all permutations at once) instead of a row-at-a-time
  Scala UDF; each group is seeded from a hash of its key so results are
  reproducible cluster-wide (the reference seeds once per executor and is
  therefore not reproducible across cluster layouts — divergence by design).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from platform_etl_backend_spark.functions.portable_math import (
    duck_portable_ln_ratio,
    ln_ratio_finish,
    ln_ratio_k,
    ln_ratio_m,
    ln_ratio_z,
)


def with_llr(contingency: DataFrame) -> DataFrame:
    """Append ``llr`` to an A/B/C/D contingency frame as a sum of
    engine-portable ratio logs, each log's steps in successive projections.

    Inlined, the three ``portable_ln_ratio`` trees make one projection whose
    generated code grows beyond 64 KB, so whole-stage codegen falls back to
    interpreted code. Projecting the intermediates (the bigint operands,
    ``k``, ``m``, ``z``, ``zz``) keeps each stage small; the operations and
    their order are those of ``portable_ln_ratio``, so the values are
    bit-identical. Association order is fixed — ``(aterm + cterm) -
    acterm`` — and mirrored exactly by :func:`duck_portable_llr` (SQL's
    left-assoc ``x + y - z``). Only valid where C ≥ 1 (callers filter;
    A ≥ 1 by construction).
    """
    A, B, C, D = (F.col(x) for x in "ABCD")
    ratios = {"a": (A, A + B), "c": (C, C + D), "ac": (A + C, A + B + C + D)}

    def v(t: str, step: str) -> Column:
        return F.col(f"_llr_{t}_{step}")

    stages = [
        {"num": lambda t: ratios[t][0].cast("bigint"),
         "den": lambda t: ratios[t][1].cast("bigint")},
        {"k": lambda t: ln_ratio_k(v(t, "num"), v(t, "den"))},
        {"m": lambda t: ln_ratio_m(v(t, "num"), v(t, "den"), v(t, "k"))},
        {"z": lambda t: ln_ratio_z(v(t, "m"))},
        {"zz": lambda t: v(t, "z") * v(t, "z")},
    ]
    df = contingency
    for stage in stages:
        df = df.withColumns(
            {f"_llr_{t}_{step}": make(t) for step, make in stage.items() for t in ratios}
        )
    ln = {t: ln_ratio_finish(v(t, "z"), v(t, "zz"), v(t, "k")) for t in ratios}
    llr = A * ln["a"] + C * ln["c"] - (A + C) * ln["ac"]
    return df.select(*contingency.columns, llr.alias("llr"))


def duck_portable_llr() -> str:
    """The DuckDB mirror of :func:`with_llr` over A/B/C/D columns."""
    pl_a = duck_portable_ln_ratio("A", "A + B")
    pl_c = duck_portable_ln_ratio("C", "C + D")
    pl_ac = duck_portable_ln_ratio("A + C", "A + B + C + D")
    return f"(A * {pl_a} + C * {pl_c} - (A + C) * {pl_ac})"


def summary_statistics(
    df: DataFrame,
    report_col: str,
    drug_col: str,
    reaction_col: str,
    approx: bool = False,
) -> DataFrame:
    """Windowed per-dimension distinct report counts."""
    if approx:
        def count_over(c, w):
            return F.approx_count_distinct(c).over(w)
    else:
        def count_over(c, w):
            return F.size(F.collect_set(c).over(w)).cast("bigint")

    w_reaction = Window.partitionBy(reaction_col)
    w_drug = Window.partitionBy(drug_col)
    w_pair = Window.partitionBy(drug_col, reaction_col)
    return (
        df.withColumn("uniq_report_ids_by_reaction", count_over(F.col(report_col), w_reaction))
        .withColumn("uniq_report_ids_by_drug", count_over(F.col(report_col), w_drug))
        .withColumn("uniq_report_ids", count_over(F.col(report_col), w_pair))
    )


def llr_contingency(
    stats: DataFrame, drug_col: str, reaction_col: str, total_reports: int
) -> DataFrame:
    """A/B/C/D contingency + log-likelihood ratio.

    The LLR is a sum of integer-ratio logs — A·ln(A/(A+B)) + C·ln(C/(C+D))
    − (A+C)·ln((A+C)/N) — so each term rides the engine-portable ratio log
    (``functions/portable_math.py``; libm ln diverges across engines in the
    last ulp). Rows with C = 0 are dropped: they are exactly the rows where
    the textbook formula degenerates to 0·ln 0 (the legacy libm form made
    them NaN/NULL and filtered on that; A ≥ 1 always since a pair exists).
    """
    a = F.col("uniq_report_ids").cast("double")
    b = (F.col("uniq_report_ids_by_reaction") - F.col("uniq_report_ids")).cast("double")
    c = (F.col("uniq_report_ids_by_drug") - F.col("uniq_report_ids")).cast("double")
    d = (
        F.lit(total_reports)
        - F.col("uniq_report_ids_by_drug")
        - F.col("uniq_report_ids_by_reaction")
        + F.col("uniq_report_ids")
    ).cast("double")
    return (
        stats.select(
            drug_col,
            reaction_col,
            a.alias("A"),
            b.alias("B"),
            c.alias("C"),
            d.alias("D"),
            F.col("uniq_report_ids_by_drug").alias("drug_total"),
            F.col("uniq_report_ids_by_reaction").alias("reaction_total"),
        )
        .distinct()
        .transform(with_llr)
        .where(F.col("C") >= 1)
    )


def contingency_via_groupby(
    df: DataFrame, report_col: str, drug_col: str, reaction_col: str
) -> DataFrame:
    """Scale-path contingency: one shared-exchange scan + broadcast joins.

    Equivalent to ``summary_statistics`` + ``llr_contingency`` but with no
    full-table windows (3 shuffles of every event row) and no driver-side
    ``count()`` action. The three keyed distinct-report counts hang off ONE
    explicit ``repartition(report, drug, reaction)`` exchange, so the raw
    input (and any expensive projection feeding it, e.g. JSON extraction)
    is scanned and shuffled exactly once; Catalyst/AQE then substitutes
    ``ReusedExchange`` for the second and third branches. Two details make
    the reuse possible (verified against the physical plan — without them
    every branch re-scans the input):

    - The null-key filter is applied EXPLICITLY before the repartition.
      Otherwise the inner joins infer a different ``isnotnull`` filter per
      branch (drug / reaction / both), the subtrees stop being canonically
      equal, and reuse is off.
    - Each branch is a plain ``groupBy().countDistinct`` ABOVE the barrier;
      letting Catalyst plan per-branch partial aggregates below their own
      exchanges (the naive formulation) yields four distinct exchanges.

    The grand total keeps the original null-inclusive semantics and rides a
    separate column-pruned scan of the report column only (no JSON parse).
    The per-dimension totals (small) are broadcast back onto the pair
    counts. This is the formulation that survives 100TB: one wide shuffle
    of the 3-column projection, then three aggregations of already-
    co-partitioned data.
    """
    projected = df.select(report_col, drug_col, reaction_col)
    base = projected.where(
        F.col(drug_col).isNotNull() & F.col(reaction_col).isNotNull()
    ).repartition(report_col, drug_col, reaction_col)
    pair = base.groupBy(drug_col, reaction_col).agg(
        F.countDistinct(report_col).alias("n_pair")
    )
    drug_tot = base.groupBy(drug_col).agg(F.countDistinct(report_col).alias("n_drug"))
    reac_tot = base.groupBy(reaction_col).agg(
        F.countDistinct(report_col).alias("n_reaction")
    )
    total = projected.agg(F.countDistinct(report_col).alias("n_total"))
    joined = (
        pair.join(F.broadcast(drug_tot), drug_col)
        .join(F.broadcast(reac_tot), reaction_col)
        .crossJoin(F.broadcast(total))
    )
    a = F.col("n_pair").cast("double")
    b = (F.col("n_reaction") - F.col("n_pair")).cast("double")
    c = (F.col("n_drug") - F.col("n_pair")).cast("double")
    d = (F.col("n_total") - F.col("n_drug") - F.col("n_reaction") + F.col("n_pair")).cast(
        "double"
    )
    return (
        joined.select(
            drug_col,
            reaction_col,
            a.alias("A"),
            b.alias("B"),
            c.alias("C"),
            d.alias("D"),
            F.col("n_drug").alias("drug_total"),
            F.col("n_reaction").alias("reaction_total"),
        )
        .transform(with_llr)
        .where(F.col("C") >= 1)
    )


def critical_value(
    permutations: int, n_j: int, n_i: np.ndarray, total: int, prob: float, seed: int
) -> float:
    """Monte-Carlo critical value for one drug (vectorized numpy).

    Distributionally identical to the reference's chained-conditional-binomial
    rmultinom (MathUtils.scala:53-79); RNG stream differs (PCG64 vs Breeze
    Mersenne), which only matters to the 3rd decimal at 100 permutations.
    """
    z = float(n_j)
    n = float(total)
    y = np.asarray(n_i, dtype=np.float64)
    p = (y / n) / (y / n).sum()
    rng = np.random.Generator(np.random.PCG64(seed))
    x = rng.multinomial(n_j, p, size=permutations).T.astype(np.float64)  # (k, perm)
    with np.errstate(divide="ignore", invalid="ignore"):
        llrs = x * (np.log(x) - np.log(y)[:, None]) + (z - x) * (
            np.log(z - x) - np.log(n - y)[:, None]
        )
        llrs = llrs - z * np.log(z) + z * np.log(n)
    llrs[~np.isfinite(llrs)] = 0.0
    max_llrs = llrs.max(axis=0)
    return float(np.percentile(max_llrs, prob * 100.0))


def montecarlo_critical_values(
    contingency: DataFrame,
    drug_col: str,
    permutations: int = 100,
    percentile: float = 0.95,
) -> DataFrame:
    """Per-drug critical values via grouped applyInPandas (X4 port)."""
    schema = T.StructType(
        [
            T.StructField(drug_col, T.StringType()),
            T.StructField("critical_value", T.DoubleType()),
        ]
    )

    def per_drug(pdf: pd.DataFrame) -> pd.DataFrame:
        # Partitioning invariance: rows arrive in shuffle order, and the
        # n_i cell order feeds the multinomial RNG — sort on the full row
        # so the same contingency always draws the same permutations
        # (statistically identical, but reproducible cluster-wide; the
        # reference's executor-seeded path is not).
        pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
        drug = pdf[drug_col].iloc[0]
        n_j = int(pdf["drug_total"].iloc[0])
        total = int((pdf["A"] + pdf["B"] + pdf["C"] + pdf["D"]).iloc[0])
        n_i = pdf["reaction_total"].to_numpy()
        seed = zlib.crc32(str(drug).encode("utf-8"))
        cv = critical_value(permutations, n_j, n_i, total, percentile, seed)
        return pd.DataFrame({drug_col: [drug], "critical_value": [cv]})

    return contingency.groupBy(drug_col).applyInPandas(per_drug, schema)


def _cm_bucket(col: Column, row: int, width: int) -> Column:
    """Deterministic count-min bucket: value of the first two hex digits of
    md5('row:' || token) modulo width — portable to any engine with md5."""
    h = F.md5(F.concat(F.lit(f"{row}:"), col))
    hi = F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1
    lo = F.instr(F.lit("0123456789abcdef"), F.substring(h, 2, 1)) - 1
    return ((hi * 16 + lo) % width).cast("int")


def count_min_table(
    items: DataFrame, item_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) as a relational
    aggregate: the d x w counter table from one pass over the items.

    Unlike the usual streaming formulation, the table here is an EXACT
    deterministic aggregation (counts per (row, bucket)) — mergeable across
    partitions by construction (sums), which is what makes the sketch the
    bounded-memory frequency structure at 100 TB: d*w counters per
    executor, one shuffle of d*w rows, regardless of corpus size.
    """
    rows = F.array(*[
        F.struct(
            F.lit(r).alias("row"), _cm_bucket(F.col(item_col), r, width).alias("bucket")
        )
        for r in range(depth)
    ])
    return (
        items.select(F.explode(rows).alias("rb"))
        .select(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


COUNT_MIN_DEPTH = 4  # hash rows; the q_count_min oracle reads it too


def count_min_estimates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 256,
    topk: int = 20,
) -> DataFrame:
    """Token-frequency estimation via count-min: build the sketch over all
    token occurrences, then report, for the top-k exact tokens, the exact
    count, the sketch estimate (min over the d rows), and the
    overestimate. est >= exact always (one-sided error) — asserted in
    tests; expected overestimate ~ N*e/w.

    The probe side (top-k tokens x d rows) is tiny and broadcasts onto the
    d*w sketch table.
    """
    from platform_etl_backend_spark.operators.dedup import spread, ws_tokens

    tok = spread(df, id_col).select(
        F.explode(ws_tokens(text_col)).alias("token")
    )
    sketch = count_min_table(tok, "token", COUNT_MIN_DEPTH, width)
    exact = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact"))
    # top-k via sort+limit (plans as TakeOrderedAndProject — distributed
    # partial top-k per partition, never a single-partition window over the
    # whole vocabulary); the rank window then touches only k rows.
    top = exact.orderBy(F.desc("exact"), F.asc("token")).limit(topk)
    w_rank = Window.orderBy(F.desc("exact"), F.asc("token"))
    top = top.withColumn("rk", F.row_number().over(w_rank))
    probes = top.select(
        "token", "exact", "rk",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("row"),
                    _cm_bucket(F.col("token"), r, width).alias("bucket"),
                )
                for r in range(COUNT_MIN_DEPTH)
            ])
        ).alias("rb"),
    ).select("token", "exact", "rk", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    est = (
        probes.join(sketch, ["row", "bucket"])
        .groupBy("token", "exact", "rk")
        .agg(F.min("cnt").cast("bigint").alias("cm_estimate"))
    )
    return est.select(
        "rk", "token", F.col("exact").cast("bigint").alias("exact"), "cm_estimate",
        (F.col("cm_estimate") - F.col("exact")).cast("bigint").alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# Bloom filter as a distributed mergeable bitset (Bloom 1970). m bits live
# in m/32 BIGINT-typed 32-bit words; building is one map-side position fan-out (k md5
# hashes per key) + ONE bit_or aggregation keyed on word index — the same
# partial-aggregate/merge shape as any sum, so the sketch merges across
# partitions, shards, and days for free. Probing broadcasts the (tiny,
# <= m/64 rows) word table and checks all k bits per probe key map-side.
# md5-derived positions (not murmur/xxhash) keep the filter bit-identical
# across engines, so the whole bitset is oracle-checkable.
# ---------------------------------------------------------------------------

BLOOM_BITS = 65536  # m
BLOOM_WORD = 32  # bits per word: shifts stay <= 31, inside both engines'
# overflow-checked BIGINT shift range (DuckDB raises on 1::BIGINT << 63)
BLOOM_HASHES = 4  # k


def _bloom_pos(key: Column, j: int) -> Column:
    """j-th bit position for a key: md5-prefix hex -> bigint -> mod m."""
    h = F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(str(j)), key)), 1, 12), 16, 10)
    return (h.cast("bigint") % BLOOM_BITS).alias(f"pos_{j}")


def _positions(key: Column) -> Column:
    return F.array(*[_bloom_pos(key, j) for j in range(BLOOM_HASHES)])


def bloom_build(df: DataFrame, key_col: str) -> DataFrame:
    """Build the filter: (word_idx BIGINT, bits BIGINT) rows, one per
    non-zero 32-bit word of the m-bit array (words stay 32-bit because the
    DuckDB oracle rejects 1::BIGINT << 63; see BLOOM_WORD)."""
    w = BLOOM_WORD
    pos = df.select(F.explode(_positions(F.col(key_col))).alias("pos"))
    return (
        pos.select(
            (F.col("pos") / w).cast("bigint").alias("word_idx"),
            # numBits must be a Column here; the python shiftleft wrapper
            # only takes an int literal
            F.expr(f"shiftleft(cast(1 as bigint), cast(pos % {w} as int))").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").cast("bigint").alias("bits"))
    )


def bloom_probe_counts(build_df: DataFrame, probe_df: DataFrame, key_col: str) -> DataFrame:
    """Probe the filter with ``probe_df[key_col]`` and tally outcomes
    against exact membership: (n_probes, n_bloom_positive, n_true_present,
    n_false_positive). The word table is broadcast (<= m/32 rows); the
    exact check is a left-semi join — at scale, the filter is the thing
    that lets you SKIP that join for bloom-negative keys."""
    words = bloom_build(build_df, key_col)
    probes = probe_df.select(F.col(key_col).alias("pk")).distinct()
    w = BLOOM_WORD
    pp = probes.select(
        "pk", F.posexplode(_positions(F.col("pk")))
    ).select(
        "pk",
        (F.col("col") / w).cast("bigint").alias("word_idx"),
        F.expr(f"shiftleft(cast(1 as bigint), cast(col % {w} as int))").alias("mask"),
    )
    hit = (
        pp.join(F.broadcast(words), "word_idx", "left_outer")
        .withColumn("bit_set", (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask")) != 0))
        .groupBy("pk")
        .agg((F.sum(F.col("bit_set").cast("int")) == BLOOM_HASHES).alias("bloom_positive"))
    )
    truth = build_df.select(F.col(key_col).alias("pk")).distinct().withColumn("present", F.lit(True))
    j = hit.join(truth, "pk", "left_outer").na.fill({"present": False})
    return j.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.col("bloom_positive").cast("int")).cast("bigint").alias("n_bloom_positive"),
        F.sum(F.col("present").cast("int")).cast("bigint").alias("n_true_present"),
        F.sum((F.col("bloom_positive") & ~F.col("present")).cast("int")).cast("bigint").alias("n_false_positive"),
        F.sum((~F.col("bloom_positive") & F.col("present")).cast("int")).cast("bigint").alias("n_false_negative"),
    )


# ---------------------------------------------------------------------------
# Engine-portable HyperLogLog (Flajolet et al. 2007). The repo's A5 row
# (approx_count_distinct) is rows-only because Spark's native HLL++ sketch
# is engine-specific — but NOTHING in the algorithm itself is: registers
# are max-of-leading-zero-counts over a uniform hash, and with md5-derived
# 48-bit hashes (portable, same trick as min-hash/sampling) every register
# value is bit-identical across engines, so the WHOLE sketch — and the
# estimate computed from it — is oracle-checkable.
#
# Determinism inventory:
# - registers: integer max per bucket — exact everywhere;
# - harmonic denominator: kept as a SCALED INTEGER sum(2^(41-M_j)) — no
#   float accumulation at all;
# - raw estimate: ONE double literal (alpha_m * m^2 * 2^41, computed once
#   in Python and embedded in both engines' expressions) divided by the
#   integer denominator — a single IEEE division;
# - linear-counting branch (raw <= 2.5m, V > 0): m * ln(m/V) through
#   portable_ln_ratio — integers in, bit-stable ln out.
# Mergeability: register tables merge by bucket-wise MAX, the same
# partial-aggregate shape as the Bloom filter's bit_or.
# ---------------------------------------------------------------------------

HLL_B = 8
HLL_M = 1 << HLL_B  # 256 registers
HLL_HASH_BITS = 48  # md5-prefix bits
_HLL_W_BITS = HLL_HASH_BITS - HLL_B  # 40-bit tail
_HLL_W_MOD = 1 << _HLL_W_BITS
HLL_MAX_RHO = _HLL_W_BITS + 1  # 41 when the tail is all zeros
# alpha_256 * m^2 * 2^41 — the one float literal, shared with the oracle
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
HLL_NUMERATOR = HLL_ALPHA * HLL_M * HLL_M * float(1 << HLL_MAX_RHO - 0)


def hll_registers(df: DataFrame, key_col: str) -> DataFrame:
    """(bucket BIGINT, mx BIGINT): the HLL register table for the distinct
    values of ``key_col``. Map-side hashing, one bucket-keyed max."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("hll:"), F.col(key_col).cast("string"))), 1, 12),
        16,
        10,
    ).cast("bigint")
    keyed = df.select(F.col(key_col)).distinct().select(h.alias("hv"))
    rho = (
        F.lit(HLL_MAX_RHO)
        - F.length(F.expr(f"trim(LEADING '0' FROM bin(hv % {_HLL_W_MOD}))"))
    ).cast("bigint")
    return (
        keyed.select(
            F.expr(f"hv div {_HLL_W_MOD}").cast("bigint").alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("mx"))
    )


def duck_hll_cte(key_sql: str, table_sql: str) -> str:
    """Register-table CTE body mirroring ``hll_registers`` exactly."""
    return f"""
      SELECT hv // {_HLL_W_MOD} AS bucket,
             MAX(CAST({HLL_MAX_RHO} - length(ltrim(bin(hv % {_HLL_W_MOD}), '0')) AS BIGINT)) AS mx
      FROM (SELECT CAST(('0x' || substr(md5('hll:' || k), 1, 12)) AS BIGINT) AS hv
            FROM (SELECT DISTINCT CAST({key_sql} AS VARCHAR) AS k FROM {table_sql}))
      GROUP BY hv // {_HLL_W_MOD}
    """


def duck_hll_estimate_sql(key_sql: str, table_sql: str, label: str) -> str:
    """Full estimate query mirroring ``hll_estimates_grouped``'s operation
    order for one label."""
    from platform_etl_backend_spark.functions.portable_math import duck_portable_ln_ratio

    ln_mv = duck_portable_ln_ratio(str(HLL_M), f"({HLL_M} - n_buckets)")
    return f"""
    SELECT '{label}' AS key,
           (SELECT CAST(COUNT(DISTINCT {key_sql}) AS BIGINT) FROM {table_sql}) AS n_exact,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           CASE WHEN ({HLL_NUMERATOR!r} / CAST(s_present + ({HLL_M} - n_buckets) * {1 << HLL_MAX_RHO} AS DOUBLE)) <= {2.5 * HLL_M!r}
                     AND ({HLL_M} - n_buckets) > 0
                THEN {float(HLL_M)!r} * ({ln_mv})
                ELSE {HLL_NUMERATOR!r} / CAST(s_present + ({HLL_M} - n_buckets) * {1 << HLL_MAX_RHO} AS DOUBLE)
           END AS estimate
    FROM (SELECT COUNT(*) AS n_buckets,
                 CAST(SUM(CAST(1 AS BIGINT) << CAST({HLL_MAX_RHO} - mx AS INT)) AS BIGINT) AS s_present
          FROM ({duck_hll_cte(key_sql, table_sql)}))
    """


# ---------------------------------------------------------------------------
# KMV / theta sketch (Beyer et al., SIGMOD 2007 — the k-minimum-values
# distinct-count sketch underlying Theta sketches). Keep the k smallest
# md5-derived hash values of a key set; estimate |S| = (k-1) / u_k with
# u_k the k-th smallest normalized hash. Unlike HLL it supports SET
# ALGEBRA: the union sketch is the min-k of the merged sketches, and
# intersections estimate via the theta cut — the warehouse feature
# (COUNT DISTINCT of unions/intersections without re-scanning). Same
# portability argument as the HLL/Bloom rows: md5 hashes make every
# sketch element bit-identical across engines, TakeOrderedAndProject
# keeps the build one bounded top-k, and the estimates are single IEEE
# divisions of exact integers.
# ---------------------------------------------------------------------------

KMV_K = 64
_KMV_NORM = 1 << 48  # md5-prefix hash range


def kmv_hashes(df: DataFrame, key_col: str) -> DataFrame:
    """Distinct md5-derived 48-bit hash values (column ``hv``) of a key set."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv:"), F.col(key_col).cast("string"))), 1, 12),
        16,
        10,
    ).cast("bigint")
    return df.select(F.col(key_col)).distinct().select(h.alias("hv")).distinct()


def _est(n_col: Column, max_col: Column, k: int) -> Column:
    """(k-1)*2^48 / h_(k) when the sketch is full, else the exact held
    count (the sketch IS the set below k elements)."""
    est = F.lit(float((k - 1) * _KMV_NORM)) / max_col.cast("double")
    return F.when(n_col >= k, est).otherwise(n_col.cast("double"))


def kmv_set_estimates(
    a: DataFrame, a_key: str, b: DataFrame, b_key: str
) -> DataFrame:
    """Four rows — a, b, union, intersection — each with the exact
    cardinality next to the sketch estimate. Intersection uses the theta
    cut: elements of both sketches below the union's k-th value, scaled by
    the union estimate. Every scalar is a 1-row aggregated frame composed
    by broadcast crossJoin — no driver-side collects."""
    ha = kmv_hashes(a, a_key).localCheckpoint()
    hb = kmv_hashes(b, b_key).localCheckpoint()
    sk_a = ha.orderBy("hv").limit(KMV_K).localCheckpoint()
    sk_b = hb.orderBy("hv").limit(KMV_K).localCheckpoint()
    union_sk = sk_a.unionAll(sk_b).distinct().orderBy("hv").limit(KMV_K).localCheckpoint()

    agg_a = sk_a.agg(F.count("*").alias("n_a"), F.max("hv").alias("mx_a"))
    agg_b = sk_b.agg(F.count("*").alias("n_b"), F.max("hv").alias("mx_b"))
    agg_u = union_sk.agg(F.count("*").alias("n_u"), F.max("hv").alias("mx_u"))
    ex_a = ha.agg(F.count("*").alias("ex_a"))
    ex_b = hb.agg(F.count("*").alias("ex_b"))
    ex_i = ha.intersect(hb).agg(F.count("*").alias("ex_i"))
    below = (
        sk_a.join(sk_b, "hv")
        .crossJoin(F.broadcast(agg_u.select(F.col("mx_u").alias("theta"))))
        .where(F.col("hv") <= F.col("theta"))
        .agg(F.count("*").alias("n_common_below"))
    )
    scalars = (
        agg_a.crossJoin(F.broadcast(agg_b))
        .crossJoin(F.broadcast(agg_u))
        .crossJoin(F.broadcast(ex_a))
        .crossJoin(F.broadcast(ex_b))
        .crossJoin(F.broadcast(ex_i))
        .crossJoin(F.broadcast(below))
    )
    est_a = _est(F.col("n_a"), F.col("mx_a"), KMV_K)
    est_b = _est(F.col("n_b"), F.col("mx_b"), KMV_K)
    est_u = _est(F.col("n_u"), F.col("mx_u"), KMV_K)
    # The theta-cut scale factor multiplies the ROUNDED union estimate —
    # the same 6-dp value the union row displays — so the intersection
    # estimate is derived from published numbers and, critically, both
    # engines evaluate the identical chain (the raw (k-1)*2^48/mx_u product
    # differs from ratio*round(est_u) in the 6th decimal for some sketches).
    est_i = (
        F.col("n_common_below").cast("double") / F.col("n_u").cast("double")
    ) * F.round(est_u, 6)
    return scalars.select(
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("key"), F.col("ex_a").cast("bigint").alias("n_exact"), F.round(est_a, 6).alias("estimate")),
                F.struct(F.lit("b").alias("key"), F.col("ex_b").cast("bigint").alias("n_exact"), F.round(est_b, 6).alias("estimate")),
                F.struct(F.lit("union").alias("key"), (F.col("ex_a") + F.col("ex_b") - F.col("ex_i")).cast("bigint").alias("n_exact"), F.round(est_u, 6).alias("estimate")),
                F.struct(F.lit("intersection").alias("key"), F.col("ex_i").cast("bigint").alias("n_exact"), F.round(est_i, 6).alias("estimate")),
            )
        ).alias("r")
    ).select("r.key", "r.n_exact", "r.estimate")


def hll_estimates_grouped(keyed: DataFrame) -> DataFrame:
    """Multi-set HLL in ONE pass: (label, key) rows -> per-label register
    tables -> per-label estimates (key, n_exact, n_buckets, estimate).
    One distinct shuffle + two tiny grouped aggregations instead of one
    pipeline per label re-scanning the data — the shape a
    sketch-per-dimension warehouse rollup actually runs."""
    from platform_etl_backend_spark.functions.portable_math import portable_ln_ratio

    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("hll:"), F.col("k").cast("string"))), 1, 12),
        16,
        10,
    ).cast("bigint")
    distinct = (
        keyed.select("label", F.col("k").cast("string").alias("k"))
        .distinct()
        .localCheckpoint()  # feeds registers AND the exact count
    )
    hv = distinct.select("label", h.alias("hv"))
    rho = (
        F.lit(HLL_MAX_RHO)
        - F.length(F.expr(f"trim(LEADING '0' FROM bin(hv % {_HLL_W_MOD}))"))
    ).cast("bigint")
    reg = (
        hv.select("label", F.expr(f"hv div {_HLL_W_MOD}").cast("bigint").alias("bucket"), rho.alias("rho"))
        .groupBy("label", "bucket")
        .agg(F.max("rho").alias("mx"))
    )
    agg = reg.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), cast({HLL_MAX_RHO} - mx as int))"))
        .cast("bigint")
        .alias("s_present"),
    )
    exact = distinct.groupBy("label").agg(F.count(F.lit(1)).alias("n_exact"))
    j = agg.join(F.broadcast(exact), "label")
    v = F.lit(HLL_M) - F.col("n_buckets")
    denom = (
        F.col("s_present") + v.cast("bigint") * F.lit(1 << HLL_MAX_RHO).cast("bigint")
    ).cast("double")
    raw = F.lit(HLL_NUMERATOR) / denom
    linear = F.lit(float(HLL_M)) * portable_ln_ratio(F.lit(HLL_M), v)
    est = F.when((raw <= F.lit(2.5 * HLL_M)) & (v > 0), linear).otherwise(raw)
    return j.select(
        F.col("label").alias("key"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("n_buckets").cast("bigint").alias("n_buckets"),
        est.alias("estimate"),
    )


def tput_topk(counts: DataFrame, k: int = 10) -> DataFrame:
    """TPUT distributed top-k bound phase (Cao & Wang, PODC 2004) over a
    per-shard count table ``(shard, word, cnt)``: each shard contributes
    its exact local top-k plus its threshold (k-th count); a candidate's
    true global count lies in [lb, ub] where lb sums the shards that DID
    report it and ub adds the unreporting shards' thresholds.

    Used by the q_distributed_topk query. SCALE: the rank window partitions by shard (the partitioning the counts
    already have); only k*shards candidate rows plus a shard-count-sized
    threshold broadcast cross the network.
    """
    rk = counts.select(
        "shard", "word", "cnt",
        F.row_number()
        .over(Window.partitionBy("shard").orderBy(F.desc("cnt"), "word"))
        .alias("rn"),
    )
    kept = rk.where(F.col("rn") <= k).drop("rn")
    thr = kept.groupBy("shard").agg(F.min("cnt").cast("bigint").alias("thr"))
    tot = thr.agg(F.sum("thr").cast("bigint").alias("t_all"))
    agg = (
        kept.join(F.broadcast(thr), "shard")
        .groupBy("word")
        .agg(
            F.sum("cnt").cast("bigint").alias("lb"),
            F.sum("thr").cast("bigint").alias("thr_seen"),
        )
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "word", "lb",
            (F.col("lb") + F.col("t_all") - F.col("thr_seen")).alias("ub"),
        )
        .orderBy(F.desc("lb"), "word")
        .limit(k)
    )
