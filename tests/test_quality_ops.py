"""Unit tests for the training-data quality operators (repetition metrics,
Gopher-style rules, PII detection/masking) on crafted inline data — the
catalog queries cover the synthetic-table integration; these pin the math.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from platform_etl_backend_spark.operators.textqa import (
    PII_PATTERNS,
    gopher_quality_flags,
    ngram_repetition,
    pii_metrics,
)


def test_ngram_repetition_math(spark):
    # "a b a b a b": bigrams = [a b, b a, a b, b a, a b] -> 5 total, 2 distinct,
    # top "a b" x3
    df = spark.createDataFrame([(1, "a b a b a b"), (2, "w x y z")], ["doc_id", "text"])
    rows = {r.doc_id: r for r in ngram_repetition(df, "doc_id", "text").collect()}
    r1 = rows[1]
    assert (r1.n_grams, r1.distinct_grams, r1.top_gram_count) == (5, 2, 3)
    assert r1.top_gram_frac == 0.6
    assert r1.dup_gram_frac == 0.6
    r2 = rows[2]
    assert (r2.n_grams, r2.distinct_grams, r2.top_gram_count) == (3, 3, 1)
    assert r2.dup_gram_frac == 0.0


def test_ngram_repetition_short_docs_drop(spark):
    df = spark.createDataFrame([(1, "solo"), (2, "two words")], ["doc_id", "text"])
    out = ngram_repetition(df, "doc_id", "text").collect()
    assert {r.doc_id for r in out} == {2}


def test_gopher_flags(spark):
    good = "the quick brown fox jumps over the lazy dog and runs in the field " * 2
    short = "too short"
    symbols = "@@@ ### $$$ %%% ^^^ &&& *** ((( ))) !!! ??? ~~~ ``` +++ === " * 2
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols)], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in gopher_quality_flags(df, "doc_id", "text").collect()}
    assert rows[1].keep is True
    assert rows[2].keep is False  # token count below floor
    assert rows[3].keep is False  # alpha_frac 0, no stopwords
    assert rows[3].alpha_frac == 0.0
    assert rows[1].stop_hits >= 2


def test_pii_detection_and_masking(spark):
    df = spark.createDataFrame(
        [
            (1, "contact bob@example.com or +1 (555) 123-4567 now"),
            (2, "server at 192.168.0.1 leaked card 1234567890123456"),
            (3, "clean text with nothing sensitive"),
        ],
        ["id", "text"],
    )
    out = {r.id: r for r in pii_metrics(df, "text").collect()}
    r1 = out[1]
    assert r1.n_email == 1 and r1.n_phone == 1
    assert "bob@example.com" not in r1.masked and "[PII]" in r1.masked
    r2 = out[2]
    assert r2.n_ipv4 == 1 and r2.n_digit_run == 1
    assert "192.168.0.1" not in r2.masked and "1234567890123456" not in r2.masked
    r3 = out[3]
    assert (r3.n_email, r3.n_phone, r3.n_ipv4, r3.n_digit_run) == (0, 0, 0, 0)
    assert r3.masked == r3.text


def test_pii_patterns_are_re2_safe():
    """The pattern catalog must stay in the Java-regex ∩ RE2 subset so the
    same strings drive Spark and DuckDB/other engines."""
    import re

    for pat in PII_PATTERNS.values():
        re.compile(pat)
        assert "(?=" not in pat and "(?<" not in pat and "\\1" not in pat


def test_repetition_plan_is_two_partial_aggs(spark):
    """Scale guard: the repetition plan must be explode → hash-partial-agg →
    exchange → final agg (no window, no cartesian)."""
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    plan = ngram_repetition(df, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Cartesian" not in plan


def test_quality_ops_empty_and_null_inputs(spark):
    """Edge hygiene: empty frames and null text must not throw."""
    from platform_etl_backend_spark.operators.textqa import (
        gopher_quality_flags,
        ngram_repetition,
        pii_metrics,
        tfidf_top_terms,
    )

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert ngram_repetition(empty, "doc_id", "text").count() == 0
    assert gopher_quality_flags(empty, "doc_id", "text").count() == 0
    assert tfidf_top_terms(empty, "doc_id", "text").count() == 0
    assert pii_metrics(empty, "text").count() == 0

    with_null = spark.createDataFrame([(1, None), (2, "a b")], "doc_id bigint, text string")
    # null text rows drop out of token-based ops, don't crash them
    assert ngram_repetition(with_null, "doc_id", "text").count() == 1
    pii = {r.doc_id: r for r in pii_metrics(with_null, "text").collect()}
    # null text → null metrics (SQL null-propagation, same as any oracle engine)
    assert pii[1].n_email is None and pii[1].masked is None
    assert pii[2].n_email == 0


def test_hash_sample_partitioning_invariance(spark):
    """The whole point of content-hash sampling: identical sample at any
    parallelism (seeded df.sample is NOT partitioning-stable)."""
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.operators.sampling import hash_bernoulli_sample

    rows = [(i, i % 7 + 1) for i in range(500)]
    one = spark.createDataFrame(rows, ["id", "w"]).coalesce(1)
    many = spark.createDataFrame(rows, ["id", "w"]).repartition(17)
    kept_one = {r.id for r in hash_bernoulli_sample(one, ["id"], F.col("w") / 10.0).collect()}
    kept_many = {r.id for r in hash_bernoulli_sample(many, ["id"], F.col("w") / 10.0).collect()}
    assert kept_one == kept_many
    # weighted: heavier rows kept more often
    w_rate = {}
    for w in (1, 7):
        ids = [i for i, ww in rows if ww == w]
        w_rate[w] = len([i for i in ids if i in kept_one]) / len(ids)
    assert w_rate[7] > w_rate[1]
