"""Tests for duplicated-span dedup, bigram LM scoring, and stratified
sampling — expected values are hand-derived on toy corpora."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from platform_etl_backend_spark.operators.dedup import duplicated_spans
from platform_etl_backend_spark.operators.sampling import stratified_sample
from platform_etl_backend_spark.operators.textqa import bigram_logprob


def test_duplicated_spans_toy(spark):
    # doc 1 and doc 2 share "a b c d" (3-grams 'a b c' at pos1, 'b c d' at
    # pos2 in doc1 / pos3 in doc2); doc 3 shares nothing cross-doc.
    docs = spark.createDataFrame(
        [
            (1, "a b c d x y z"),
            (2, "q q a b c d"),
            (3, "unique tokens only here"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in duplicated_spans(docs, "doc_id", "text").collect()}
    assert set(out) == {1, 2}
    # doc1: dup 3-gram positions {1,2} -> merged span tokens 1..4
    assert (out[1].n_spans, out[1].dup_tokens, out[1].spans) == (1, 4, "1-4")
    # doc2: positions {3,4} -> tokens 3..6
    assert (out[2].n_spans, out[2].dup_tokens, out[2].spans) == (1, 4, "3-6")


def test_duplicated_spans_disjoint_islands(spark):
    docs = spark.createDataFrame(
        [
            (1, "x x x m m m GAP y y y"),
            (2, "x x x n n n y y y"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in duplicated_spans(docs, "doc_id", "text").collect()}
    assert out[1].n_spans == 2
    assert out[1].spans == "1-3|8-10"
    assert out[1].dup_tokens == 6


def test_duplicated_spans_short_docs_emit_nothing(spark):
    docs = spark.createDataFrame([(1, "a b"), (2, "a b")], ["doc_id", "text"])
    assert duplicated_spans(docs, "doc_id", "text").count() == 0


def test_bigram_logprob_hand_example(spark):
    # corpus bigrams: "a b" x2 (doc1, doc2), "b a" x1; contexts: a->2, b->1
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a b")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in bigram_logprob(docs, "doc_id", "text").collect()}
    lp_ab = round(math.log(2 / 2), 6)  # P(b|a) = 1
    lp_ba = round(math.log(1 / 1), 6)  # P(a|b) = 1
    assert out[1].n_bigrams == 2
    assert out[1].mean_logprob == pytest.approx((lp_ab + lp_ba) / 2, abs=1e-6)
    assert out[2].n_bigrams == 1
    assert out[2].mean_logprob == pytest.approx(lp_ab, abs=1e-6)


def test_bigram_logprob_prefers_common_continuations(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat"), (2, "the cat ran"), (3, "the cat sat"),
            (4, "the dog howled loud"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.mean_logprob for r in bigram_logprob(docs, "doc_id", "text").collect()}
    # "the cat sat" (majority continuation) scores above "the dog howled"
    assert out[1] > out[4]
    assert out[1] == out[3]


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fracs = {"en": 0.75, "fr": 0.5, "de": 0.25}
    s1 = stratified_sample(d, "lang", ["doc_id"], fracs, default=0.125)
    s2 = stratified_sample(d.repartition(13), "lang", ["doc_id"], fracs, default=0.125)
    ids1 = {r.doc_id for r in s1.select("doc_id").collect()}
    ids2 = {r.doc_id for r in s2.select("doc_id").collect()}
    assert ids1 == ids2  # partitioning-invariant
    totals = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {r.lang: r.n for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, frac in fracs.items():
        rate = kept.get(lang, 0) / totals[lang]
        assert abs(rate - frac) < 0.2, (lang, rate)
    # default stratum is sampled at the default rate
    other = sum(kept.get(lg, 0) for lg in totals if lg not in fracs)
    other_total = sum(totals[lg] for lg in totals if lg not in fracs)
    assert abs(other / other_total - 0.125) < 0.15


# --- property test: duplicated_spans vs a plain-Python reference model ---

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_WORDS = ["a", "b", "c", "d"]
_doc = st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12).map(" ".join)
_corpus = st.lists(_doc, min_size=2, max_size=5)


def _model_spans(texts, k):
    """Brute-force reference: per doc, positions whose k-gram occurs in
    another doc; merge overlapping/adjacent [p, p+k-1] ranges."""
    toks = [t.split(" ") if t.strip() else [] for t in (s.strip() for s in texts)]
    grams = [
        [" ".join(ts[i:i + k]) for i in range(len(ts) - k + 1)] if len(ts) >= k else []
        for ts in toks
    ]
    out = {}
    for d, gs in enumerate(grams):
        hits = [
            i + 1
            for i, g in enumerate(gs)
            if any(g in go for j, go in enumerate(grams) if j != d)
        ]
        spans = []
        for p in hits:
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], p + k - 1)
            else:
                spans.append([p, p + k - 1])
        if spans:
            out[d] = (
                len(spans),
                sum(e - s + 1 for s, e in spans),
                "|".join(f"{s}-{e}" for s, e in spans),
            )
    return out


@given(texts=_corpus)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_duplicated_spans_matches_model(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_spans, r.dup_tokens, r.spans)
        for r in duplicated_spans(df, "doc_id", "text").collect()
    }
    assert got == _model_spans(texts, 3)


# --- chunking and packing ---

from platform_etl_backend_spark.operators.textqa import chunk_documents, pack_sequences


def test_chunk_documents_windows(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(1, 11))), (2, "a b")],
        ["doc_id", "text"],
    )
    out = chunk_documents(docs, "doc_id", "text", size=4, stride=3)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    # doc1: 10 tokens, starts 1,4,7 (start 10 would exceed: 10+3 > 10)
    d1 = sorted(k[1] for k in rows if k[0] == 1)
    assert d1 == [1, 2, 3]
    assert rows[(1, 1)].chunk_text == "t1 t2 t3 t4"
    assert rows[(1, 3)].chunk_text == "t7 t8 t9 t10"
    assert all(rows[(1, c)].n_tokens == 4 for c in d1)
    # short doc: one whole-doc chunk, n_tokens = actual length
    assert rows[(2, 1)].chunk_text == "a b"
    assert rows[(2, 1)].n_tokens == 2


def test_chunk_documents_full_coverage_at_stride_eq_size(spark):
    text = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = chunk_documents(docs, "doc_id", "text", size=4, stride=4).collect()
    rebuilt = " ".join(r.chunk_text for r in sorted(out, key=lambda r: r.chunk_id))
    assert rebuilt == text  # non-overlapping chunks partition the doc


def test_pack_sequences_bins(spark):
    # token counts: 3, 4, 5, 2 -> exclusive prefix sums 0,3,7,12 -> budget 6
    # bins: 0,0,1,2
    docs = spark.createDataFrame(
        [
            (1, "a a a"), (2, "b b b b"), (3, "c c c c c"), (4, "d d"),
        ],
        ["doc_id", "text"],
    )
    out = {r.bin: r for r in pack_sequences(docs, "doc_id", "text", budget=6).collect()}
    assert set(out) == {0, 1, 2}
    assert (out[0].n_docs, out[0].tokens, out[0].first_doc, out[0].last_doc) == (2, 7, 1, 2)
    assert (out[1].n_docs, out[1].tokens) == (1, 5)
    assert (out[2].n_docs, out[2].tokens) == (1, 2)


def test_pack_sequences_sharded_is_partitioning_invariant(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = pack_sequences(d, "doc_id", "text", budget=512, partition_col="source")
    b = pack_sequences(d.repartition(11), "doc_id", "text", budget=512,
                       partition_col="source")
    ka = {(r.source, r.bin): (r.n_docs, r.tokens) for r in a.collect()}
    kb = {(r.source, r.bin): (r.n_docs, r.tokens) for r in b.collect()}
    assert ka == kb


# --- fuzzy join and range frame ---


def test_fuzzy_join_finds_planted_typos(spark):
    from platform_etl_backend_spark.operators.dedup import fuzzy_pairs_dist1

    names = ["alpha", "alpah", "alphas", "beta", "gamma", "gama", "delta"]
    cust = spark.createDataFrame(
        [(i, nm) for i, nm in enumerate(names)], ["c_custkey", "c_name"]
    )
    pairs = {
        (r.tok_a, r.tok_b)
        for r in fuzzy_pairs_dist1(cust, "c_custkey", "c_name").collect()
    }
    # transposition 'alpah'<->'alpha' is distance 2 (no Damerau) — correctly absent
    assert pairs == {("alpha", "alphas"), ("gama", "gamma")}


def test_fuzzy_damerau_catches_transpositions(spark):
    from platform_etl_backend_spark.operators.dedup import (
        fuzzy_pairs_damerau1,
        fuzzy_pairs_dist1,
    )

    names = ["alpha", "alpah", "beta", "btea", "gamma", "gamma1"]
    df = spark.createDataFrame(list(enumerate(names)), ["c_custkey", "c_name"])
    lev = {(r.tok_a, r.tok_b): r.dist for r in fuzzy_pairs_dist1(df, "c_custkey", "c_name").collect()}
    dam = {(r.tok_a, r.tok_b): r.dist for r in fuzzy_pairs_damerau1(df, "c_custkey", "c_name").collect()}
    # transpositions invisible to pure levenshtein<=1, caught by damerau
    assert ("alpah", "alpha") not in lev
    assert dam[("alpah", "alpha")] == 1
    assert dam[("beta", "btea")] == 1
    # insertion pair present in both with identical distance
    assert lev[("gamma", "gamma1")] == 1 and dam[("gamma", "gamma1")] == 1
    # damerau is a superset of the levenshtein pairs
    assert set(lev) <= set(dam)


# --- property tests: chunking and packing vs plain-Python models ---

_ptexts = st.lists(
    st.lists(st.sampled_from(["w", "xx", "yyy"]), min_size=0, max_size=9).map(" ".join),
    min_size=1, max_size=4,
)


@given(texts=_ptexts, size=st.integers(2, 5), stride=st.integers(1, 5))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_chunk_documents_matches_model(spark, texts, size, stride):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        (r.doc_id, r.chunk_id): (r.start, r.n_tokens, r.chunk_text)
        for r in chunk_documents(df, "doc_id", "text", size=size, stride=stride).collect()
    }
    want = {}
    for d, t in enumerate(texts):
        toks = t.strip().split(" ")  # '' -> [''] like Spark's split
        n = len(toks)
        starts = list(range(1, max(n - size + 1, 1) + 1, stride))
        for ci, s0 in enumerate(starts, start=1):
            chunk = toks[s0 - 1: s0 - 1 + size]
            want[(d, ci)] = (s0, min(n - s0 + 1, size), " ".join(chunk))
    assert got == want


@given(texts=_ptexts, budget=st.integers(2, 12))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pack_sequences_matches_model(spark, texts, budget):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r.bin: (r.n_docs, r.tokens, r.first_doc, r.last_doc)
        for r in pack_sequences(df, "doc_id", "text", budget=budget).collect()
    }
    want: dict = {}
    cum = 0
    for d, t in enumerate(texts):
        n = 1 if t.strip() == "" else len(t.strip().split(" "))
        b = cum // budget
        nd, tk, fd, ld = want.get(b, (0, 0, d, d))
        want[b] = (nd + 1, tk + n, min(fd, d), max(ld, d))
        cum += n
    assert got == want


def test_weighted_sample_upweights_and_is_partitioning_invariant(spark, sf_dir):
    from pyspark.sql import functions as F
    from platform_etl_backend_spark.operators.sampling import weighted_bottomk_sample
    from platform_etl_backend_spark.plans.inspect import explain_str

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    s = weighted_bottomk_sample(d, ["doc_id"], "n_chars", k=50)
    # weight = length: the sample's mean length must exceed the corpus mean
    corpus_mean = d.agg(F.avg("n_chars")).collect()[0][0]
    sample_mean = s.agg(F.avg("n_chars")).collect()[0][0]
    assert sample_mean > corpus_mean

    a = sorted(r["doc_id"] for r in s.collect())
    b = sorted(
        r["doc_id"]
        for r in weighted_bottomk_sample(
            d.repartition(13), ["doc_id"], "n_chars", k=50
        ).collect()
    )
    assert a == b  # cluster-size invariance

    assert "TakeOrderedAndProject" in explain_str(s, "simple")  # no global sort


def test_fuzzy_block_cost_guard_fires_on_hot_block(spark):
    """max_block_cost is the quadratic-bomb guard (same enforce-don't-
    document pattern as semantic_dedup.max_pair_cost): a deliberately hot
    blocking key — 26 tokens that all share the 1-deletion variant 'x' —
    must raise BEFORE the pair expansion launches, while a loose bound
    leaves output identical to the unguarded path."""
    import pytest as _pytest

    from platform_etl_backend_spark.operators.dedup import fuzzy_pairs_dist1

    rows = [(i, ch + "x") for i, ch in enumerate("abcdefghijklmnopqrstuvwxyz")]
    df = spark.createDataFrame(rows, ["c_custkey", "c_name"])
    with _pytest.raises(ValueError, match="max_block_cost"):
        fuzzy_pairs_dist1(df, "c_custkey", "c_name", max_block_cost=100).collect()

    loose = sorted(
        (r.tok_a, r.tok_b, r.dist)
        for r in fuzzy_pairs_dist1(
            df, "c_custkey", "c_name", max_block_cost=10_000
        ).collect()
    )
    unguarded = sorted(
        (r.tok_a, r.tok_b, r.dist)
        for r in fuzzy_pairs_dist1(df, "c_custkey", "c_name").collect()
    )
    assert loose == unguarded and len(loose) > 0


def test_fuzzy_damerau_transposition_boundary_positions(spark):
    """Round-10 verify rewire edges: transpositions at the FIRST two and
    the LAST two characters (the substr-past-end '' == '' tail path), a
    lev-2 same-length pair that is NOT one adjacent transposition, and a
    NON-adjacent swap — all through the zip_with+substr predicate."""
    from platform_etl_backend_spark.operators.dedup import fuzzy_pairs_damerau1

    names = ["abcd", "bacd", "abdc", "badc", "acbd"]
    df = spark.createDataFrame(list(enumerate(names)), ["c_custkey", "c_name"])
    dam = {(r.tok_a, r.tok_b): r.dist
           for r in fuzzy_pairs_damerau1(df, "c_custkey", "c_name").collect()}
    assert dam[("abcd", "bacd")] == 1   # first two chars
    assert dam[("abcd", "abdc")] == 1   # last two chars (empty-tail compare)
    assert dam[("abcd", "acbd")] == 1   # middle
    # 'bacd' vs 'abdc': two separate transpositions = OSA distance 2 — out
    assert ("abdc", "bacd") not in dam
    # 'cbad' (non-adjacent swap of a/c) would be distance 2 — not built here,
    # but 'badc' vs 'abcd' (two adjacent transpositions) must also be out
    assert ("abcd", "badc") not in dam


def _sb_python_model(texts, min_count=2, alpha=0.4):
    """Brute-force Stupid Backoff model (full bigram re-count, NO derived
    counts) — pins the operator's trigram-prefix + last-bigram bigram-count
    derivation against the definitional formulation."""
    from collections import Counter

    toks = {i: t.split() for i, t in texts.items()}
    tg = Counter()
    per_doc_tg = {}
    bg = Counter()
    for i, t in toks.items():
        tri = [" ".join(t[j : j + 3]) for j in range(len(t) - 2)]
        per_doc_tg[i] = Counter(tri)
        tg.update(tri)
        bg.update(" ".join(t[j : j + 2]) for j in range(len(t) - 1))
    c12 = Counter()
    for g, c in tg.items():
        c12[" ".join(g.split()[:2])] += c
    c2 = Counter()
    for g, c in bg.items():
        c2[g.split()[0]] += c
    out = {}
    for i, tf in per_doc_tg.items():
        if not tf:
            continue
        s = 0
        n = n_bo = 0
        for g, f in tf.items():
            if tg[g] >= min_count:
                lp = round(math.log(tg[g] / c12[" ".join(g.split()[:2])]), 6)
            else:
                suf = " ".join(g.split()[1:])
                lp = round(math.log(alpha) + math.log(bg[suf] / c2[suf.split()[0]]), 6)
                n_bo += f
            s += round(lp * 1e6) * f
            n += f
        # round-half-away integer mean in micro-nats
        mean = -((2 * (-s) + n) // (2 * n)) if s < 0 else (2 * s + n) // (2 * n)
        out[i] = (n, n_bo, mean)
    return out


def test_stupid_backoff_matches_python_model(spark):
    """Edge cases for the derived bigram counts: docs of 1/2/3/4 tokens
    (2-token docs contribute ONLY a last bigram; 1-token docs nothing),
    repeated trigrams straddling the min_count prune, and a backoff whose
    suffix bigram occurs only as a doc-final bigram elsewhere."""
    from platform_etl_backend_spark.operators.textqa import stupid_backoff_logprob

    texts = {
        1: "a b c a b c a b",        # 'a b c' x2 survives prune; last bigram 'a b'
        2: "b c",                     # 2-token doc: last-bigram-only contribution
        3: "x",                       # 1-token doc: no contribution anywhere
        4: "c a b c d",              # singleton trigrams -> backoff; 'c d' final
        5: "q c d r",                # backoff suffix 'c d' seen as doc-4 final bigram
    }
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_trigrams, r.n_backoff, r.mean_score_micro)
        for r in stupid_backoff_logprob(docs, "doc_id", "text").collect()
    }
    assert got == _sb_python_model(texts)
