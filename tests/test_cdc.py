"""Content-defined chunking: Arrow kernel == plain-Python model, boundary
properties, and the shared-span invariant CDC exists for."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from platform_etl_backend_spark.operators import dedup as D


def py_cdc(t: str) -> list[str]:
    """Plain-Python reference model of the stateless LBFS chunker."""
    w, m, d = D.CDC_WINDOW, D.CDC_MOD, D.CDC_DIVISOR
    n = len(t)
    if n == 0:
        return []
    if n < w:
        return [t]
    bpos = []
    for i in range(w, n + 1):  # 1-based window end
        h = sum(ord(t[i - w + j]) * D.CDC_POWERS[j] for j in range(w)) % m
        if h % d == 0:
            bpos.append(i)
    starts = [0] + bpos
    ends = bpos + [n]
    return [t[s:e] for s, e in zip(starts, ends) if e > s]


def chunks_of(spark, texts: list[str], fn) -> dict[int, list[str]]:
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    rows = fn(df, "doc_id", "text").collect()
    return {r["doc_id"]: list(r["chunks"]) for r in rows}


CORPUS = [
    "",
    "a",
    "short",
    "exactly8",
    "the quick brown fox jumps over the lazy dog " * 8,
    "abcdefgh" * 40,
    "x" * 300,
]


def test_kernel_matches_python_model_and_expr_twin(spark):
    got_kernel = chunks_of(spark, CORPUS, D.cdc_chunk_arrays)
    for i, t in enumerate(CORPUS):
        assert got_kernel[i] == py_cdc(t), (i, t[:40])


def test_chunks_reassemble_and_respect_boundaries(spark):
    got = chunks_of(spark, CORPUS, D.cdc_chunk_arrays)
    for i, t in enumerate(CORPUS):
        assert "".join(got[i]) == t  # lossless partition


def test_shared_span_chunks_identically(spark):
    """The property CDC dedup depends on: a long span shared by two
    documents at DIFFERENT offsets yields identical interior chunks
    (boundaries are content-local, not offset-dependent)."""
    import random

    rng = random.Random(7)
    # non-periodic span: a periodic repeat can legitimately contain zero
    # boundaries (every period hashes identically), so build ~600 chars of
    # seeded random words (~9 expected boundaries at divisor 64)
    words = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "zeta"]
    shared = " ".join(rng.choice(words) for _ in range(110))
    a = "PREFIX_A " + shared + " SUFFIX_A"
    b = "a completely different and much longer prefix here " + shared + "tail"
    got = chunks_of(spark, [a, b], D.cdc_chunk_arrays)
    interior_a = set(got[0][1:-1])
    interior_b = set(got[1][1:-1])
    common = interior_a & interior_b
    assert len(common) >= 1, (got[0], got[1])


@settings(max_examples=30, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=400))
def test_python_model_is_lossless_any_ascii(t):
    assert "".join(py_cdc(t)) == t


def test_kernel_random_ascii_matches_model(spark):
    import random

    rng = random.Random(42)
    texts = [
        "".join(chr(rng.randint(32, 126)) for _ in range(rng.randint(0, 200)))
        for _ in range(40)
    ]
    got = chunks_of(spark, texts, D.cdc_chunk_arrays)
    for i, t in enumerate(texts):
        assert got[i] == py_cdc(t), i
