"""Unigram-LM (SentencePiece-style) subword tokenizer: seed vocabulary →
Viterbi segmentation → hard-EM cost re-estimation.

Public algorithm (Kudo 2018, "Subword Regularization"; the SentencePiece
unigram model): pieces carry costs ``-ln p(piece)``; a word's segmentation
is the piece sequence minimizing total cost, found by Viterbi DP over
character positions; training alternates segmentation (E) with piece-
probability re-estimation (M) over the corpus. The reference engine has no
tokenizer — this completes the tokenizer family next to the trainable BPE
(``operators/bpe.py``).

Spark-first shape (NOT a per-string UDF):
- Everything runs on the **word-type table** (distinct words + corpus
  frequency) — the same rollup the BPE trainer uses. Real corpora have
  millions of word types regardless of corpus size, so at 100 TB the heavy
  part stays one token-explode + one word-keyed aggregation; the DP itself
  is pure column expressions over the type table (map-side).
- The seed vocabulary (all single chars + the top-K multi-char substrings
  by corpus frequency) and its costs build with two tiny aggregations; the
  vocabulary is bounded (K + alphabet), so it rides along as a 1-row
  broadcast **map literal** — the DP does zero joins.
- The Viterbi DP unrolls statically over ``UNI_WMAX`` character positions
  (bounded word length — the same bounded-rounds trick as the unrolled
  PageRank/BPE oracles), each level a LEAST over ≤ ``UNI_LMAX`` candidate
  costs. Backtracking unrolls the same way. All integer micro-nat
  arithmetic: engine-portable by construction, the only transcendental is
  the portable ratio-ln inside the seed-cost derivation.

Determinism: costs are BIGINT micro-nats (floor(1e6 * portable_ln_ratio));
ties in the DP resolve to the SHORTEST last piece (the LEAST/CASE chain
evaluates candidates in fixed j order on both engines); the top-K piece
cut breaks frequency ties lexicographically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from platform_etl_backend_spark.functions.portable_math import portable_ln_ratio
from platform_etl_backend_spark.operators.dedup import spread, ws_tokens

UNI_WMAX = 8  # max word length the unrolled DP covers (catalog corpus: 8)
UNI_LMAX = 4  # max piece length
UNI_TOPK = 40  # multi-char pieces kept in the seed vocabulary
UNI_INF_MICRO = 10**12  # "piece not in vocab" sentinel (never wins a LEAST)
UNI_UNK_MICRO = 30_000_000  # unseen single char (~ln 1e13 nats): covers any input
COST_SCALE = 1_000_000.0


def word_types(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(word, freq) corpus rollup; words longer than ``UNI_WMAX`` fall outside
    the unrolled DP and are excluded (documented coverage boundary — raise
    ``UNI_WMAX`` to widen; expression count grows linearly)."""
    return (
        spread(df, id_col)
        .select(F.explode(ws_tokens(text_col)).alias("word"))
        .where((F.col("word") != "") & (F.length("word") <= UNI_WMAX))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def seed_piece_costs(words: DataFrame) -> DataFrame:
    """Seed vocabulary with costs: every single character (guarantees any
    word segments) plus the ``UNI_TOPK`` most frequent multi-char substrings
    (length 2..UNI_LMAX), costs = -ln(freq/total) in integer micro-nats.
    Substring occurrences are position-counted and weighted by word
    frequency — the standard SentencePiece seed (suffix-array frequencies,
    here as a bounded explode because UNI_LMAX is small)."""
    subs = []
    n = F.length("word")

    def _sub_at(j: int):
        # closure factory, NOT a `lambda s, j=j` default: F.transform
        # passes a 2-arg lambda (element, INDEX) — a defaulted second
        # parameter silently receives the index column
        return lambda s: F.col("word").substr(s, F.lit(j))

    for j in range(1, UNI_LMAX + 1):
        # guard: Spark sequence(1, stop) with stop < 1 DESCENDS ([1, 0]) —
        # a word shorter than j must contribute no length-j pieces
        subs.append(
            F.when(
                n >= j, F.transform(F.sequence(F.lit(1), n - j + 1), _sub_at(j))
            ).otherwise(F.array().cast("array<string>"))
        )
    occ = words.select(
        F.col("freq"), F.explode(F.flatten(F.array(*subs))).alias("piece")
    ).where(F.col("piece") != "")
    pf = occ.groupBy("piece").agg(F.sum("freq").cast("bigint").alias("freq"))
    singles = pf.where(F.length("piece") == 1)
    multis = (
        pf.where(F.length("piece") >= 2)
        .orderBy(F.desc("freq"), "piece")
        .limit(UNI_TOPK)
    )
    # cut lineage: the vocab table feeds BOTH the total (a broadcast agg)
    # and the output rows — without the checkpoint the substring explode +
    # top-k pipeline executes twice (once inside the broadcast build)
    vocab = singles.unionAll(multis).localCheckpoint()
    total = vocab.agg(F.sum("freq").cast("bigint").alias("total"))
    return vocab.crossJoin(F.broadcast(total)).select(
        "piece",
        "freq",
        F.floor(portable_ln_ratio(F.col("total"), F.col("freq")) * F.lit(COST_SCALE))
        .cast("bigint")
        .alias("cost_micro"),
    )


def viterbi_segment(
    words: DataFrame,
    vocab: DataFrame,
) -> DataFrame:
    """Segment every word type: (word, freq, n_chars, pieces '|'-joined,
    n_pieces, cost_micro). The vocabulary arrives as a 1-row broadcast map
    (bounded size by construction), the DP is ``UNI_WMAX`` static levels of
    LEAST/CASE expressions, the backtrack is ``UNI_WMAX`` more — the whole
    segmentation is map-side; zero shuffles past the inputs.

    Round-11 build rewrite: the DP is emitted as ONE selectExpr whose
    items reference earlier items by lateral column alias, instead of a
    ~160-deep withColumn chain. Each withColumn call re-resolved the
    whole accumulated plan (measured ~2 s of driver-side DataFrame
    construction per run at this unroll depth); the lateral-alias form
    is one analysis pass and CollapseProject yields the same executed
    plan — expression for expression identical, so the segmentation is
    value-identical.
    """
    vmap = vocab.agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("piece", "cost_micro")))
        ).alias("m")
    )
    base = words.crossJoin(F.broadcast(vmap)).select(
        "word", "freq", F.length("word").cast("int").alias("n"), "m"
    )

    items: list[str] = ["word", "freq", "n"]
    # cost of the piece ENDING at position i with length j (1-based, fully
    # inside the word whenever j <= i <= n; positions i > n are computed
    # but provably never read — the backtrack walks down from n)
    for i in range(1, UNI_WMAX + 1):
        for j in range(1, min(UNI_LMAX, i) + 1):
            fallback = UNI_UNK_MICRO if j == 1 else UNI_INF_MICRO
            items.append(
                f"COALESCE(try_element_at(m, substring(word, {i - j + 1}, {j})), "
                f"CAST({fallback} AS BIGINT)) AS c_{i}_{j}"
            )
    items.append("CAST(0 AS BIGINT) AS best_0")
    for i in range(1, UNI_WMAX + 1):
        # candidates as named items: best_i and bp_i then reference the
        # ALIASES instead of duplicating the add expressions — keeps the
        # generated whole-stage code small (the duplicated-expression
        # form compiled noticeably slower at this unroll depth)
        js = list(range(1, min(UNI_LMAX, i) + 1))
        for j in js:
            items.append(f"best_{i - j} + c_{i}_{j} AS cand_{i}_{j}")
        cands = ", ".join(f"cand_{i}_{j}" for j in js)
        items.append(
            (f"LEAST({cands})" if len(js) > 1 else f"cand_{i}_{js[0]}")
            + f" AS best_{i}"
        )
        bp = " ".join(
            f"WHEN cand_{i}_{j} = best_{i} THEN {j}" for j in js
        )
        items.append(f"CAST(CASE {bp} END AS INT) AS bp_{i}")

    def at(prefix: str, pos: str) -> str:
        # prefix_<pos> for a runtime position (bounded CASE)
        arms = " ".join(
            f"WHEN {pos} = {i} THEN {prefix}_{i}" for i in range(1, UNI_WMAX + 1)
        )
        return f"CASE {arms} END"

    items.append("n AS p_0")
    for k in range(1, UNI_WMAX + 1):
        items.append(
            f"CAST(CASE WHEN p_{k - 1} <= 0 THEN 0 ELSE "
            + at("bp", f"p_{k - 1}")
            + f" END AS INT) AS l_{k}"
        )
        items.append(f"CAST(p_{k - 1} - l_{k} AS INT) AS p_{k}")
        items.append(
            f"CASE WHEN l_{k} > 0 THEN "
            f"substr(word, p_{k - 1} - l_{k} + 1, l_{k}) END AS piece_{k}"
        )
    # backtrack emits last piece first — concat in reverse k order
    # (concat_ws skips NULL slots on both engines)
    rev = ", ".join(f"piece_{k}" for k in range(UNI_WMAX, 0, -1))
    npieces = " + ".join(f"CAST(l_{k} > 0 AS INT)" for k in range(1, UNI_WMAX + 1))
    items.append("n AS n_chars")
    items.append(f"concat_ws('|', {rev}) AS pieces")
    items.append(f"CAST({npieces} AS INT) AS n_pieces")
    items.append(f"CAST({at('best', 'n')} AS BIGINT) AS cost_micro")
    return base.selectExpr(*items).select(
        "word", "freq", "n_chars", "pieces", "n_pieces", "cost_micro"
    )


def em_reestimate_costs(segmented: DataFrame) -> DataFrame:
    """One hard-EM (Viterbi-EM) M-step: piece frequencies counted from the
    corpus segmentation (word-type pieces weighted by word frequency) →
    re-estimated costs -ln(freq'/total') in micro-nats. Pieces the Viterbi
    pass never used drop out — the EM prune. One piece-keyed aggregation
    plus a 1-row broadcast total."""
    occ = segmented.select(
        "freq", F.explode(F.split("pieces", r"\|")).alias("piece")
    ).where(F.col("piece") != "")
    pf = occ.groupBy("piece").agg(F.sum("freq").cast("bigint").alias("freq"))
    total = pf.agg(F.sum("freq").cast("bigint").alias("total"))
    return pf.crossJoin(F.broadcast(total)).select(
        "piece",
        "freq",
        F.floor(portable_ln_ratio(F.col("total"), F.col("freq")) * F.lit(COST_SCALE))
        .cast("bigint")
        .alias("cost_micro"),
    )
