"""Tests for the round-2 training-data pipeline additions: benchmark
decontamination, deterministic bottom-k sampling, int8 embedding
quantization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from platform_etl_backend_spark.operators.dedup import decontamination_hits
from platform_etl_backend_spark.operators.sampling import bottomk_sample
from platform_etl_backend_spark.operators.similarity import quantize_int8


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

def test_decontamination_finds_verbatim_overlap(spark):
    train = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "completely unrelated text with different words entirely"),
            (102, "quick brown fox is a common pangram fragment"),
        ],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame(
        [(1, "benchmark contains the quick brown fox exactly")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in
           decontamination_hits(train, eval_df, "doc_id", "text", k=3).collect()}
    # 100 shares 'the quick brown' + 'quick brown fox'; 102 shares 'quick brown fox'
    assert set(out) == {100, 102}
    assert out[100].n_hit_shingles == 2
    assert out[102].n_hit_shingles == 1
    assert out[100].n_eval_docs == 1
    assert out[100].sample_eval == 1


def test_decontamination_broadcasts_bounded_eval_side(spark, sf_dir):
    from spark_helpers import assert_broadcast_join

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = decontamination_hits(
        d.where(F.col("doc_id") >= 15), d.where(F.col("doc_id") < 15),
        "doc_id", "text", k=3,
    )
    assert_broadcast_join(out, at_least=1)


# ---------------------------------------------------------------------------
# bottom-k sampling
# ---------------------------------------------------------------------------

def test_bottomk_sample_is_partitioning_invariant(spark):
    rows = [(i, f"s{i % 3}") for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    a = sorted((r.doc_id, r.source) for r in
               bottomk_sample(df, ["doc_id", "source"], 25).collect())
    b = sorted((r.doc_id, r.source) for r in
               bottomk_sample(df.repartition(13), ["doc_id", "source"], 25).collect())
    assert a == b
    assert len(a) == 25


def test_bottomk_sample_plans_as_take_ordered(spark):
    from platform_etl_backend_spark.plans import explain_str

    df = spark.createDataFrame([(i, "x") for i in range(100)], ["doc_id", "source"])
    plan = explain_str(bottomk_sample(df, ["doc_id"], 5), "simple")
    assert "TakeOrderedAndProject" in plan, plan


# ---------------------------------------------------------------------------
# int8 quantization
# ---------------------------------------------------------------------------

def test_quantize_int8_codes_and_error_bound(spark):
    vecs = [
        (1, [1.0, -0.5, 0.25, 0.0]),
        (2, [100.0, 50.0, -100.0, 10.0]),
        (3, [0.001, 0.002, -0.003, 0.004]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = {r.vec_id: r for r in quantize_int8(df, "vec_id", "embedding").collect()}
    for vid, vec in vecs:
        r = out[vid]
        codes = [int(c) for c in r.codes.split("|")]
        assert len(codes) == len(vec)
        assert all(-127 <= c <= 127 for c in codes)
        # max|v| quantizes to ±127 exactly
        peak = max(range(len(vec)), key=lambda i: abs(vec[i]))
        assert abs(codes[peak]) == 127
        # per-element error ≤ scale/2 → L2 ≤ (scale/2)·√dim (+ rounding slack)
        scale = max(abs(x) for x in vec) / 127.0
        assert r.l2_err <= scale / 2 * len(vec) ** 0.5 + 1e-6


def test_quantize_int8_is_map_side_only(spark):
    from spark_helpers import shuffle_count

    df = spark.createDataFrame([(1, [1.0, 2.0])], ["vec_id", "embedding"])
    assert shuffle_count(quantize_int8(df, "vec_id", "embedding")) == 0


# ---------------------------------------------------------------------------
# unigram surprisal
# ---------------------------------------------------------------------------

def test_unigram_surprisal_hand_computed(spark):
    import math

    from platform_etl_backend_spark.operators.textqa import unigram_surprisal

    # corpus: 'a' x3, 'b' x2, 'c' x1 → N=6
    df = spark.createDataFrame([(1, "a a b"), (2, "a b c")], ["doc_id", "text"])
    out = {r.doc_id: r for r in unigram_surprisal(df, "doc_id", "text").collect()}

    def bits(cf, n=6):
        return round((math.log(float(n)) - math.log(float(cf))) / 0.6931471805599453, 6)

    d1 = round((2 * bits(3) + 1 * bits(2)) / 3, 6)
    d2 = round((bits(3) + bits(2) + bits(1)) / 3, 6)
    assert out[1].n_tokens == 3 and out[2].n_tokens == 3
    assert out[1].mean_surprisal_bits == pytest.approx(d1, abs=1e-9)
    assert out[2].mean_surprisal_bits == pytest.approx(d2, abs=1e-9)
    # rare tokens score higher than common ones
    assert out[2].mean_surprisal_bits > out[1].mean_surprisal_bits


def test_cap_per_group_deterministic_and_bounded(spark):
    from platform_etl_backend_spark.operators.sampling import cap_per_group

    rows = [(i, f"s{i % 4}") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    a = sorted((r.doc_id, r.source) for r in
               cap_per_group(df, ["source"], ["doc_id"], 10).collect())
    b = sorted((r.doc_id, r.source) for r in
               cap_per_group(df.repartition(9), ["source"], ["doc_id"], 10).collect())
    assert a == b
    from collections import Counter
    per = Counter(s for _, s in a)
    assert all(v == 10 for v in per.values()) and len(per) == 4
    # small groups keep everything
    tiny = spark.createDataFrame([(1, "x"), (2, "x")], ["doc_id", "source"])
    assert cap_per_group(tiny, ["source"], ["doc_id"], 10).count() == 2


# ---------------------------------------------------------------------------
# time-weighted average
# ---------------------------------------------------------------------------

def test_time_weighted_avg_hand_computed(spark, sf_dir, tmp_path):
    from platform_etl_backend_spark.catalog import QUERIES

    # verify semantics on crafted data through the same query shape:
    # user 1: value 10 held 5s, value 20 held 15s -> twa = (50+300)/20 = 17.5
    rows = [(1, 1, 0, 10.0), (1, 2, 5, 20.0), (1, 3, 20, 99.0),
            (2, 4, 0, 1.0)]  # user 2: single instant, excluded (span 0)
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ep", "value"])
    from pyspark.sql import Window, functions as F
    from platform_etl_backend_spark.catalog.registry import dec6

    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    weighted = dec6("value") * (F.lead("ep").over(w) - F.col("ep"))
    out = (
        df.select("user_id", "ep", weighted.alias("wv"))
        .groupBy("user_id")
        .agg(
            F.round(F.sum("wv").cast("double")
                    / (F.max("ep") - F.min("ep")).cast("double"), 6).alias("twa"),
            (F.max("ep") - F.min("ep")).cast("bigint").alias("span_s"),
        )
        .where(F.col("span_s") > 0)
    ).collect()
    assert len(out) == 1
    assert out[0].user_id == 1
    assert out[0].twa == pytest.approx(17.5)
    assert out[0].span_s == 20
