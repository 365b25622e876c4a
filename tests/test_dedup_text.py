from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from platform_etl_backend_spark.operators import dedup as D
from platform_etl_backend_spark.operators import textqa as TQ

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank now"),  # near-dup of 1
    (3, "completely different text about spark query engines and big data systems"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (5, "tiny doc"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_summary(spark, docs):
    row = D.exact_dedup_summary(docs, "text").first()
    assert (row.n_docs, row.n_distinct, row.n_dup_docs) == (5, 4, 2)


def test_bag_fingerprint_groups(spark, docs):
    groups = D.bag_fingerprint_groups(docs, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0].members == [1, 4]


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             D.ngram_jaccard_pairs(docs, "doc_id", "text", k=3).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0
    assert not any({3, 5} & set(p) for p in pairs)


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r.id_a, r.id_b) for r in
             D.minhash_dedup_pairs(docs, "doc_id", "text").collect()}
    assert (1, 4) in pairs  # exact dup always collides
    assert (1, 2) in pairs  # planted near-dup
    assert all(3 not in p and 5 not in p for p in pairs)


def test_simhash_near_dups_close(spark, docs):
    h = {r.doc_id: r.simhash for r in D.simhash(docs, "doc_id", "text").collect()}
    assert h[1] == h[4]
    ham_12 = bin(h[1] ^ h[2]).count("1")
    ham_13 = bin(h[1] ^ h[3]).count("1")
    assert ham_12 <= ham_13

def test_winnow_fingerprint_stability(spark, docs):
    fp = {r.doc_id: r.fingerprint for r in
          D.winnow_fingerprint(docs, "doc_id", "text").collect()}
    assert fp[1] == fp[4]
    assert fp[1] != fp[3]
    assert len(fp) == 5  # short doc still fingerprints (whole-doc shingle)


def test_token_counts(spark, docs):
    ws, bpe = TQ.token_counts("text")
    row = docs.where(F.col("doc_id") == 5).select(ws.alias("w"), bpe.alias("b")).first()
    assert row.w == 2 and row.b == 2


def test_quality_metrics_buckets(spark, docs):
    out = {r.doc_id: r for r in TQ.quality_metrics(docs, "text").collect()}
    assert out[5].quality_bucket == "low"  # < 5 tokens
    assert out[1].quality_bucket == "high"  # many 'the'
    assert out[1].n_tokens == 14


def test_langid_scores(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog in the house"),
         (2, "el gato y la casa de los perros"),
         (3, "der hund und die katze ist ein tier"),
         (4, "xyzzy plugh qwerty")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.pred_lang for r in TQ.langid_scores(df, "text").collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "de" and out[4] == "unk"


def test_prefix_filtered_jaccard_equals_baseline(spark, sf_dir):
    """The prefix filter is exact: identical pair set + jaccards as the
    shared-shingle baseline, with strictly fewer candidate-join rows."""
    from platform_etl_backend_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = sorted(
        map(tuple, ngram_jaccard_pairs(docs, "doc_id", "text", k=3)
            .select("id_a", "id_b", "inter", "jaccard").collect())
    )
    pref = sorted(
        map(tuple, prefix_filtered_jaccard_pairs(docs, "doc_id", "text", k=3)
            .select("id_a", "id_b", "inter", "jaccard").collect())
    )
    assert base == pref
    assert len(base) > 0  # fixture genuinely contains near-dups


def test_prefix_filter_prunes_candidates(spark, sf_dir):
    """Prefix-restricted candidate pairs must be a strict subset of the
    shared-shingle candidate pairs (the whole point of the filter) while
    still containing every pair that verifies at the threshold."""
    from pyspark.sql import functions as F
    from platform_etl_backend_spark.operators.dedup import (
        exploded_shingles,
        ngram_jaccard_pairs,
        prefix_filtered_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = exploded_shingles(docs, "doc_id", "text", 3)
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    full_cands = (
        a.join(b, "shingle").where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct().count()
    )

    # re-derive the operator's prefix frame with the same recipe
    dfs = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        sh.join(dfs, "shingle")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("lst"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    p = F.col("n") - F.ceil(F.lit(0.5) * F.col("n")).cast("bigint") + 1
    prefix = ordered.select(
        "doc_id", F.explode(F.slice("lst", F.lit(1), p)).alias("ps")
    ).select("doc_id", F.col("ps.shingle").alias("shingle"))
    pa = prefix.select(F.col("doc_id").alias("id_a"), "shingle")
    pb = prefix.select(F.col("doc_id").alias("id_b"), "shingle")
    pref_cands = (
        pa.join(pb, "shingle").where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct().count()
    )
    assert pref_cands < full_cands

    # and nothing above the threshold is lost (exactness re-checked on counts)
    n_base = ngram_jaccard_pairs(docs, "doc_id", "text", k=3).count()
    n_pref = prefix_filtered_jaccard_pairs(docs, "doc_id", "text", k=3).count()
    assert n_base == n_pref


def test_prefix_filter_wins_on_zipfian_sharing(spark):
    """Pins the SCALE.md trade-off claim: on a zipfian corpus (a few hot
    stop-word-like shingles shared by EVERY doc, tails unique) the
    shared-shingle baseline's candidate join is quadratic in the hot df
    (sum over shingles of C(df,2)) while the prefix filter excludes the hot
    shingles from every doc's prefix — orders of magnitude fewer candidate
    pairs, with the identical verified pair output (exactness preserved).
    k=1 shingles so the sharing structure is controlled exactly."""
    from platform_etl_backend_spark.operators.dedup import (
        exploded_shingles,
        ngram_jaccard_pairs,
        prefix_filtered_jaccard_pairs,
    )

    hot = " ".join(f"z{j}" for j in range(5))  # in every document
    rows = [(i, f"{hot} " + " ".join(f"u{i}_{j}" for j in range(15))) for i in range(48)]
    # doc 48: near-clone of doc 0 (one unique token swapped) -> the single
    # true pair at threshold 0.5 (jaccard = 19/21)
    rows.append((48, f"{hot} " + " ".join(f"u0_{j}" for j in range(14)) + " x1"))
    docs = spark.createDataFrame(rows, "doc_id: bigint, text: string")

    sh = exploded_shingles(docs, "doc_id", "text", 1)
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    full_cands = (
        a.join(b, "shingle").where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct().count()
    )
    # every doc pair shares the 5 hot shingles: C(49,2) = 1176 candidates
    assert full_cands == 49 * 48 // 2

    # operator-recipe prefix candidates (rarest-first order, t = 0.5)
    dfs = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        sh.join(dfs, "shingle")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("lst"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    p = F.col("n") - F.ceil(F.lit(0.5) * F.col("n")).cast("bigint") + 1
    prefix = ordered.select(
        "doc_id", F.explode(F.slice("lst", F.lit(1), p)).alias("ps")
    ).select("doc_id", F.col("ps.shingle").alias("shingle"))
    pa = prefix.select(F.col("doc_id").alias("id_a"), "shingle")
    pb = prefix.select(F.col("doc_id").alias("id_b"), "shingle")
    pref_cands = (
        pa.join(pb, "shingle").where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct().count()
    )
    # prefixes hold only rare tails: the sole candidate is the planted pair
    assert pref_cands == 1
    assert pref_cands * 100 < full_cands  # the orders-of-magnitude win

    base = sorted(
        map(tuple, ngram_jaccard_pairs(docs, "doc_id", "text", k=1)
            .select("id_a", "id_b", "inter", "jaccard").collect())
    )
    pref = sorted(
        map(tuple, prefix_filtered_jaccard_pairs(docs, "doc_id", "text", k=1)
            .select("id_a", "id_b", "inter", "jaccard").collect())
    )
    assert base == pref
    assert [(i, j) for i, j, *_ in base] == [(0, 48)]


def test_sentence_segmentation_boundaries(spark):
    """Hand-checked boundary semantics: decimals and abbreviation periods do
    not split; runs of terminators and closing quotes do; ids are 1-based in
    document order."""
    rows = [
        (1, 'Dr. Smith paid $12.50 on Jan. 5 and said "Stop!" Then we left. The end'),
        (2, "One. Two!? Three"),
        (3, "No. 7 St. Mary won vs. the rest. Fine."),
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    out = TQ.segment_sentences(df, "doc_id", "text")
    got = {
        (r.doc_id, r.sent_id): (r.sentence, r.n_tokens)
        for r in out.collect()
    }
    assert got == {
        (1, 1): ('Dr. Smith paid $12.50 on Jan. 5 and said "Stop!"', 10),
        (1, 2): ("Then we left.", 3),
        (1, 3): ("The end", 2),
        (2, 1): ("One.", 1),
        (2, 2): ("Two!?", 1),
        (2, 3): ("Three", 1),
        (3, 1): ("No. 7 St. Mary won vs. the rest.", 8),
        (3, 2): ("Fine.", 1),
    }


def test_rouge_overlap_hand_computed(spark):
    """Hand-computed ROUGE-1/2 on a classic pair: clipped counts, and
    F1 == 2o/(tc+tr) exactly."""
    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the cat lay on the mat")],
        "doc_id: bigint, text: string",
    )
    pairs = spark.createDataFrame([(0, 1)], "cand_id: bigint, ref_id: bigint")
    r = TQ.rouge_overlap(docs, pairs, "doc_id", "text").first()
    # unigrams: the(2),cat,sat,on,mat vs the(2),cat,lay,on,mat -> clipped overlap 5
    assert r.o1 == 5 and r.rouge1_p == round(5 / 6, 6) == r.rouge1_r
    assert r.rouge1_f == round(10 / 12, 6)
    # bigrams: shared = {the cat, on the, the mat} -> 3 of 5 each
    assert r.o2 == 3 and r.rouge2_f == round(6 / 10, 6)


def test_rouge_disjoint_pair_is_zero(spark):
    docs = spark.createDataFrame(
        [(0, "aa bb cc"), (1, "xx yy zz")], "doc_id: bigint, text: string"
    )
    pairs = spark.createDataFrame([(0, 1)], "cand_id: bigint, ref_id: bigint")
    r = TQ.rouge_overlap(docs, pairs, "doc_id", "text").first()
    assert (r.o1, r.rouge1_f, r.o2, r.rouge2_f) == (0, 0.0, 0, 0.0)


def test_skipgram_pairs_window_semantics(spark):
    """'a b c d': distance-1 pairs both directions + distance-2 pairs."""
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id: bigint, text: string")
    got = {(r.center, r.context): r.cnt
           for r in TQ.skipgram_pairs(docs, "doc_id", "text").collect()}
    expect = {}
    toks = "a b c d".split()
    for i in range(len(toks)):
        for d in (1, 2):
            if i + d < len(toks):
                expect[(toks[i], toks[i + d])] = expect.get((toks[i], toks[i + d]), 0) + 1
                expect[(toks[i + d], toks[i])] = expect.get((toks[i + d], toks[i]), 0) + 1
    assert got == expect


def test_containment_catches_what_jaccard_misses(spark):
    """A small doc pasted inside a big one: containment >= 0.8 finds the
    ordered pair while symmetric Jaccard at 0.5 does not; prefix-filtered
    candidates produce the same verified output as brute force."""
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.operators import dedup as D

    small = "alpha beta gamma delta epsilon zeta eta theta"
    big = ("completely different opening words here now " + small
           + " and a very long unrelated tail " + "filler word soup " * 20)
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, "nothing shared at all in this one truly")],
        "doc_id bigint, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in D.containment_pairs(df, "doc_id", "text").collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 0.8
    assert (2, 1) not in got  # asymmetric: big is NOT contained in small
    jac = D.ngram_jaccard_pairs(df, "doc_id", "text", k=3).collect()
    assert not [r for r in jac if {r["id_a"], r["id_b"]} == {1, 2}]
