"""Query catalog: every operator from SURVEY.md §2 (plus the LLM-pipeline
operators) exposed as a named query over the driver's TPC-H-ish tables,
each paired with an ANSI-SQL oracle that DuckDB can run.

Registry contract (consumed by ``__spark_entry__.py``):
- ``QUERIES[name].fn(spark, sf_dir) -> DataFrame``
- ``QUERIES[name].oracle`` — equivalent SQL, or None for non-SQL-expressible
  operators (the driver then records a weaker rows-only check).

Determinism conventions (both sides MUST follow them or value-hashes drift):
- money/measure sums go through ``decimal(18,2)``/``decimal(18,6)`` so
  distributed summation order cannot change results; final numeric columns
  are cast to DOUBLE (exact decimal→double, identical bits in both engines);
- outputs of transcendental functions (ln, log1p, …) are rounded to 6 d.p.
  — BUT for transcendental-heavy models (thousands of entries, where some
  value eventually lands within an ulp of a rounding boundary) use the
  engine-portable ratio log (``functions/portable_math.py``): libm ln
  differs across engines in the last ulp (observed: ln(3/29));
- a mean of a decimal sum divided by an integer hits EXACT round-half
  boundaries by construction, and ROUND(double) is tie-divergent across
  engines — emit such means at integer micro-scale with explicit
  round-half-away integer arithmetic ((2s+n) div 2n);
- every array output is deterministically sorted AND '|'-serialized;
- no raw TIMESTAMP outputs (cast to DATE or string);
- every ranking has a unique tiebreak key;
- IEEE-exact operations (+ - * / sqrt on identical operands, integer ops,
  md5) need no scaffolding — they are bit-identical everywhere;
- NEVER multiply two wide decimals: decimal(28,s) x decimal(28,s) exceeds
  precision 38 and each engine reduces the result scale DIFFERENTLY
  (observed: 1-micro q_zipf_fit intercept drift). Power/cross sums
  compute the product in DOUBLE (bit-identical per row) and decimal-cast
  only the product for the order-free SUM.
"""

from __future__ import annotations

from platform_etl_backend_spark.catalog.registry import QUERIES, QuerySpec, register

# Import for side effects: each module registers its queries.
from platform_etl_backend_spark.catalog import relational  # noqa: E402,F401
from platform_etl_backend_spark.catalog import events  # noqa: E402,F401
from platform_etl_backend_spark.catalog import graphs  # noqa: E402,F401
from platform_etl_backend_spark.catalog import olap  # noqa: E402,F401
from platform_etl_backend_spark.catalog import multimodal  # noqa: E402,F401
from platform_etl_backend_spark.catalog import text  # noqa: E402,F401
from platform_etl_backend_spark.catalog import tpch  # noqa: E402,F401
from platform_etl_backend_spark.catalog import vectors  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Driver window. The correctness harness checks only the first 50
# registered queries, so _apply_driver_window moves these 50 names, in
# this order, to the front of QUERIES; every other query keeps its
# registration order after them. The window fronts, first, the queries
# with no driver evidence and the changed contracts: a query whose output
# contract or plan shape changed after its last driver check (recorded in
# tests/test_evidence_freshness.py CHANGED_CONTRACTS in the commit that
# changes it). The other slots take the prefix of the stale-evidence
# rotation: the hash-checkable queries ordered by the round of their
# latest driver evidence, oldest first, then by name.
# tests/test_evidence_freshness.py derives that rotation from the
# committed CORRECTNESS_r*.json files and fails unless the window consumes
# exactly its prefix.
# ---------------------------------------------------------------------------

_DRIVER_WINDOW: tuple[str, ...] = (
    # -- round-12 changed plans carried over: prefix_filtered_jaccard_pairs
    #    and containment_pairs replaced the df rollup + join-back with a
    #    shingle window count (operators/dedup.py).
    "q_prefix_jaccard",
    "q_containment_join",
    # -- stale rotation prefix, deterministic order (evidence round asc,
    #    then name) — derived by tests/test_evidence_freshness.py.
    # round-4-latest:
    "q_value_histogram",
    "q_weighted_sample",
    "q_winsorized_mean",
    # round-5-latest:
    "q_ab_ztest",
    "q_bloom_build",
    "q_bmp_decode",
    "q_cohort_ltv",
    "q_conversion_paths",
    "q_cuped",
    "q_cusum_changepoint",
    "q_dq_checks",
    "q_gif_roundtrip",
    "q_gini",
    "q_hll_registers",
    "q_html_extract",
    "q_jl_projection",
    "q_kaplan_meier",
    "q_kmv_set_estimates",
    "q_linear_interpolate",
    "q_merge_upsert",
    "q_moving_median",
    "q_rfm_segments",
    "q_rolling_zscore",
    "q_rrf_fusion",
    "q_seasonal_naive",
    "q_tpch_q11",
    "q_tpch_q13",
    "q_tpch_q15",
    "q_tpch_q16",
    "q_tpch_q17",
    "q_tpch_q19",
    "q_tpch_q2",
    "q_tpch_q20",
    "q_tpch_q21",
    "q_tpch_q22",
    "q_tpch_q4",
    "q_tpch_q6",
    "q_tpch_q7",
    "q_tpch_q8",
    "q_tpch_q9",
    "q_window_distribution",
    "q_zipf_fit",
    # round-6-latest, alphabetical prefix:
    "q_acf_multilag",
    "q_adamic_adar",
    "q_ams_sketch",
    "q_anova_f",
    "q_attribution",
    "q_bh_fdr",
)


def _apply_driver_window() -> None:
    assert len(_DRIVER_WINDOW) == 50, len(_DRIVER_WINDOW)
    assert len(set(_DRIVER_WINDOW)) == 50
    ordered = {name: QUERIES[name] for name in _DRIVER_WINDOW}
    for name, spec in QUERIES.items():
        if name not in ordered:
            ordered[name] = spec
    QUERIES.clear()
    QUERIES.update(ordered)


_apply_driver_window()

__all__ = ["QUERIES", "QuerySpec", "register"]
