"""Cross-encoder reranking: score (query, candidate) text pairs with an
Arrow-batched scorer, keep top-k per query.

The retrieval pattern at scale: a cheap candidate generator (ANN / LSH /
BM25 — all in this repo) bounds the pair set, then an expensive pairwise
scorer reranks only the candidates. TWO scorers ship:

- ``int_transformer_rerank`` (the model, run by q_transformer_rerank): a
  single-layer transformer cross-encoder in exact int64 arithmetic with
  md5-derived weights (architecture in the section note below), so the
  DuckDB oracle can recompute every logit. Scoring batches ride
  ``mapInPandas`` exactly as a torch/onnx model would (weights broadcast
  per executor, Arrow record batches in, score column out); swap
  ``_int_forward`` for a real checkpoint in production and everything
  around it stays.
- ``crossencoder_rerank`` (the hash scorer): sha256-derived IEEE-double
  pseudo-scores — expressible in SQL, so the whole pipeline is
  oracle-checkable end to end (q_crossencoder_rerank). Not a model; it
  is the smallest engine-portable scorer a DuckDB oracle can hash-match.

Scale notes: pairs shuffle once on the query key for the top-k window;
scoring itself is map-side. Candidate-set size per query is the cost
knob — bounded upstream by the generator, never quadratic here.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PAIR_SEP = "\x1f"  # unit separator: cannot appear in the test corpora


def _score_impl(query_text: str, doc_text: str) -> float:
    """STUB scorer: first 16 bits of sha256(query ␟ doc) scaled to [0, 1).
    Exact in IEEE double — any engine computing the same expression agrees
    bit-for-bit (no rounding needed)."""
    h = hashlib.sha256((query_text + PAIR_SEP + doc_text).encode()).hexdigest()
    return int(h[:4], 16) / 65536.0


def crossencoder_rerank(
    pairs: DataFrame,
    query_id: str,
    doc_id: str,
    query_text: str,
    doc_text: str,
) -> DataFrame:
    """Score candidate pairs (Arrow-batched) and keep the top-k per query,
    ties broken on doc id ascending (deterministic)."""

    schema = f"{query_id} bigint, {doc_id} bigint, score double"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            scores = [
                _score_impl(q, d)
                for q, d in zip(pdf[query_text], pdf[doc_text])
            ]
            yield pd.DataFrame(
                {query_id: pdf[query_id], doc_id: pdf[doc_id], "score": scores}
            )

    scored = pairs.select(query_id, doc_id, query_text, doc_text).mapInPandas(
        batches, schema
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(doc_id))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(query_id, doc_id, "score", F.col("rk").cast("int").alias("rk"))
    )


# --- integer fixed-point transformer cross-encoder --------------------------
#
# A single-layer transformer (hashed-vocab + positional + segment
# embeddings over [CLS] query [SEP] doc, multi-head attention from the CLS
# query, residual + layernorm, FFN, residual + layernorm, linear head)
# where every operation is EXACT int64 arithmetic with committed
# conventions, so a DuckDB oracle can reproduce the scores bit-for-bit (a
# float softmax/exp chain cannot be):
# - weights are md5-derived small integers (w = md5int6(name:i:j) % 15 - 7)
#   — derivable in SQL, no literal blobs;
# - attention softmax -> rational min-shifted weights a_j = s_j - min(s),
#   ctx = tdiv(sum a_j * v_j, sum a_j + 1);
# - layernorm -> integer centering (D*x - sum) scaled by 128 over
#   (exact integer sqrt of sum of squares) + 1;
# - activation tanh -> integer softsign tdiv(256*z, 256 + |z|);
# - tdiv = truncate-toward-zero division (sign(x) * (|x| // y), y > 0) —
#   identical in numpy, python and both SQL engines for nonneg operands.
# Single layer, head reads the CLS position only, so only the CLS row's
# query projection is computed (keys/values over the full sequence).

XD, XH, XE, XFF, XL, XV = 8, 2, 4, 16, 12, 32  # dims, heads, dk, ffn, seq, vocab


def _mdint6(s: str) -> int:
    """First 6 hex chars of md5 as an int — the shared weight/vocab hash."""
    return int(hashlib.md5(s.encode()).hexdigest()[:6], 16)


def _xw_matrix(name: str, rows: int, cols: int) -> np.ndarray:
    return np.array(
        [
            [_mdint6(f"xw:{name}:{i}:{j}") % 15 - 7 for j in range(cols)]
            for i in range(rows)
        ],
        dtype=np.int64,
    )


_XW_INT = {
    "emb": _xw_matrix("emb", XV, XD),
    "pos": _xw_matrix("pos", XL, XD),
    "seg": _xw_matrix("seg", 3, XD),
    "wq": _xw_matrix("wq", XD, XH * XE),
    "wk": _xw_matrix("wk", XD, XH * XE),
    "wv": _xw_matrix("wv", XD, XH * XE),
    "wo": _xw_matrix("wo", XH * XE, XD),
    "ff1": _xw_matrix("ff1", XD, XFF),
    "ff2": _xw_matrix("ff2", XFF, XD),
    "head": _xw_matrix("head", 1, XD)[0],
}


def _int_tokenize(query_text: str, doc_text: str) -> tuple[list[int], list[int]]:
    """[CLS] q… [SEP] d… (ids, segs) truncated to XL. Tokens split on
    ' +' after trim — EXACTLY the SQL string_split_regex semantics (an
    all-whitespace text yields one empty token, not zero)."""
    import re

    def toks(s: str) -> list[str]:
        return re.split(" +", s.strip())

    ids, segs = [0], [0]
    for t in toks(query_text):
        ids.append(2 + _mdint6("xt:" + t) % (XV - 2))
        segs.append(1)
    ids.append(1)
    segs.append(1)
    for t in toks(doc_text):
        ids.append(2 + _mdint6("xt:" + t) % (XV - 2))
        segs.append(2)
    return ids[:XL], segs[:XL]


def _tdiv(x: np.ndarray, y) -> np.ndarray:
    """Truncate-toward-zero integer division, y > 0 (elementwise)."""
    return np.sign(x) * (np.abs(x) // y)


def _visqrt(n: np.ndarray) -> np.ndarray:
    """Exact integer sqrt via float floor + integer correction — the same
    two-step the SQL oracle runs, so both are exact for any int64 input
    in range (float sqrt is correctly rounded; the correction absorbs the
    at-most-1 floor error near perfect squares)."""
    r = np.floor(np.sqrt(n.astype(np.float64))).astype(np.int64)
    r = r + ((r + 1) * (r + 1) <= n).astype(np.int64) - (r * r > n).astype(np.int64)
    return r


def _int_layernorm(x: np.ndarray) -> np.ndarray:
    """(B, D) int64 -> (B, D) int64: c = D*x - sum; 128*c over isqrt(sum c^2)+1."""
    c = XD * x - x.sum(axis=1, keepdims=True)
    root = _visqrt((c * c).sum(axis=1, keepdims=True)) + 1
    return _tdiv(128 * c, root)


def _int_forward(ids_batch: list[list[int]], segs_batch: list[list[int]]) -> np.ndarray:
    """Batched integer forward pass -> int64 logits (one per pair)."""
    W = _XW_INT
    B = len(ids_batch)
    ids = np.zeros((B, XL), dtype=np.int64)
    segs = np.zeros((B, XL), dtype=np.int64)
    mask = np.zeros((B, XL), dtype=bool)
    for i, (a, g) in enumerate(zip(ids_batch, segs_batch)):
        ids[i, : len(a)] = a
        segs[i, : len(a)] = g
        mask[i, : len(a)] = True
    x = (W["emb"][ids] + W["pos"][None, :, :] + W["seg"][segs]) * mask[:, :, None]
    q0 = (x[:, 0, :] @ W["wq"]).reshape(B, XH, XE)
    K = (x @ W["wk"]).reshape(B, XL, XH, XE)
    V = (x @ W["wv"]).reshape(B, XL, XH, XE)
    s = np.einsum("bhe,bjhe->bhj", q0, K)  # int64 exact
    big = np.iinfo(np.int64).max
    smin = np.where(mask[:, None, :], s, big).min(axis=2, keepdims=True)
    a = np.where(mask[:, None, :], s - smin, 0)
    den = a.sum(axis=2, keepdims=True) + 1
    num = np.einsum("bhj,bjhe->bhe", a, V)
    ctx = _tdiv(num, den).reshape(B, XH * XE)
    r1 = x[:, 0, :] + _tdiv(ctx @ W["wo"], 1024)
    y = _int_layernorm(r1)
    z1 = y @ W["ff1"]
    h1 = _tdiv(256 * z1, 256 + np.abs(z1))
    r2 = y + _tdiv(h1 @ W["ff2"], 256)
    z = _int_layernorm(r2)
    return z @ W["head"]


def int_transformer_rerank(
    pairs: DataFrame,
    query_id: str,
    doc_id: str,
    query_text: str,
    doc_text: str,
) -> DataFrame:
    """Integer cross-encoder rerank: Arrow-batched int64 forward pass +
    per-query top-k (logit desc, doc id asc). Scores are exact integers,
    so the whole pipeline — tokenizer, weights, attention, layernorms,
    head, ranking — hash-matches the relational DuckDB oracle
    (q_transformer_rerank) and the pure-python pin."""
    schema = f"{query_id} bigint, {doc_id} bigint, logit bigint"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            toks = [
                _int_tokenize(q, d)
                for q, d in zip(pdf[query_text], pdf[doc_text])
            ]
            logits = _int_forward([t[0] for t in toks], [t[1] for t in toks])
            yield pd.DataFrame(
                {query_id: pdf[query_id], doc_id: pdf[doc_id], "logit": logits}
            )

    scored = pairs.select(query_id, doc_id, query_text, doc_text).mapInPandas(
        batches, schema
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("logit"), F.asc(doc_id))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(query_id, doc_id, "logit", F.col("rk").cast("int").alias("rk"))
    )
