"""Text analysis operators: language-ID, quality scoring, token counting,
repetition metrics, heuristic quality rules, PII detection/masking —
all pure Catalyst (built-in string/array functions, no UDFs).
"""

from __future__ import annotations

import math
from typing import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from platform_etl_backend_spark.functions.portable_math import LN2, portable_ln_ratio
from platform_etl_backend_spark.operators.dedup import spread, ws_tokens

# Tiny per-language stopword lists for the n-gram/stopword-hit heuristic.
# Order matters: ties resolve to the earlier language (deterministic).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "des", "un"),
    "zh": ("de5", "shi4", "le5"),  # romanized placeholders
}

# A BPE-ish pre-tokenization regex: letter runs, digit runs, or single
# non-alphanumeric marks (the common GPT-2-style contract, simplified).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_counts(text: Column | str) -> tuple[Column, Column]:
    """(whitespace token count, BPE-ish regex token count), both bigint."""
    c = F.col(text) if isinstance(text, str) else text
    ws = F.size(ws_tokens(c)).cast("bigint")
    bpe = F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)).cast("bigint")
    return ws, bpe


def stopword_hits(tokens: Column, lang: str) -> Column:
    words = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    return F.size(F.filter(tokens, lambda t: F.array_contains(words, F.lower(t))))


def langid_scores(df: DataFrame, text_col: str) -> DataFrame:
    """Per-language stopword-hit counts + deterministic argmax prediction."""
    toks = ws_tokens(text_col)
    out = df
    for lang in LANG_STOPWORDS:
        out = out.withColumn(f"hits_{lang}", stopword_hits(toks, lang))
    pred = None
    langs = list(LANG_STOPWORDS)
    # argmax with first-wins tie-break, built as a reversed when-chain
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    for lang in langs:
        cond = F.col(f"hits_{lang}") == best
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    out = out.withColumn("pred_lang", F.when(best <= 0, "unk").otherwise(pred))
    return out


def quality_metrics(df: DataFrame, text_col: str) -> DataFrame:
    """Length / word-length / stopword-ratio quality features + bucket."""
    toks = ws_tokens(text_col)
    n_tok = F.size(toks).cast("bigint")
    n_char = F.length(F.trim(F.col(text_col))).cast("bigint")
    # mean word length ignoring separators
    mean_wlen = F.round((n_char - (n_tok - 1)).cast("double") / n_tok, 6)
    stop = stopword_hits(toks, "en")
    stop_ratio = F.round(stop.cast("double") / n_tok, 6)
    bucket = (
        F.when((n_tok < 5) | (mean_wlen < 2), "low")
        .when(stop_ratio > 0.05, "high")
        .otherwise("mid")
    )
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "n_chars_trim": n_char,
            "mean_word_len": mean_wlen,
            "stopword_ratio": stop_ratio,
            "quality_bucket": bucket,
        }
    )


def ngrams_nondistinct(tokens: Column, n: int) -> Column:
    """All word n-grams in order, repeats kept (repetition metrics need
    multiplicity; `dedup.k_shingles` is the distinct variant)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
    )
    return F.when(F.size(tokens) >= n, grams).otherwise(F.array().cast("array<string>"))


def ngram_repetition(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition metrics per document: the fraction of n-grams
    taken by the single most frequent n-gram (`top_gram_frac`) and the
    duplicate-gram fraction (1 − distinct/total).

    Scale shape: explode n-grams → ONE hash shuffle on (id, gram) with
    map-side partial counts → a second tiny shuffle on id. No windows, no
    per-doc quadratic in-array work — linear in corpus token count, which is
    what survives at 100 TB. Documents shorter than ``n`` tokens produce no
    n-grams and drop out (semantic: repetition is undefined there).
    """
    toks = spread(df, id_col).select(
        F.col(id_col), F.explode(ngrams_nondistinct(ws_tokens(text_col), 2)).alias("gram")
    )
    counts = toks.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = counts.groupBy(id_col).agg(
        F.sum("cnt").alias("n_grams"),
        F.count(F.lit(1)).alias("distinct_grams"),
        F.max("cnt").alias("top_gram_count"),
    )
    return per_doc.select(
        id_col,
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("distinct_grams").cast("bigint").alias("distinct_grams"),
        F.col("top_gram_count").cast("bigint").alias("top_gram_count"),
        F.round(F.col("top_gram_count") / F.col("n_grams"), 6).alias("top_gram_frac"),
        F.round(F.lit(1) - F.col("distinct_grams") / F.col("n_grams"), 6).alias("dup_gram_frac"),
    )


def gopher_quality_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Gopher/C4-style heuristic quality rules, entirely map-side: token-count
    bounds, mean/max word length, alphabetic-word fraction, and an
    English-stopword floor, combined into a boolean ``keep``. One narrow
    stage — no shuffle at any scale."""
    toks = ws_tokens(text_col)
    n_tok = F.size(toks).cast("bigint")
    word_lens = F.transform(toks, lambda t: F.length(t).cast("bigint"))
    sum_len = F.aggregate(word_lens, F.lit(0).cast("bigint"), lambda a, x: a + x)
    mean_wlen = F.round(sum_len.cast("double") / n_tok, 6)
    max_wlen = F.array_max(word_lens)
    alpha = F.size(F.filter(toks, lambda t: t.rlike("^[A-Za-z]+$")))
    alpha_frac = F.round(alpha.cast("double") / n_tok, 6)
    stop = stopword_hits(toks, "en").cast("bigint")
    keep = (
        n_tok.between(20, 100_000)
        & mean_wlen.between(3.0, 10.0)
        & (alpha_frac >= 0.8)
        & (stop >= 2)
    )
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        mean_wlen.alias("mean_word_len"),
        max_wlen.alias("max_word_len"),
        alpha_frac.alias("alpha_frac"),
        stop.alias("stop_hits"),
        keep.alias("keep"),
    )


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document top-k terms by TF-IDF (idf = ln(N/df) via the
    engine-portable ratio log — see functions/portable_math.py; rounded to
    6 d.p.; ties break on term asc).

    Scale shape: explode → (doc, term) partial-agg shuffle → per-term df
    frame joined back on ``term`` as a SHUFFLE join (the vocabulary is
    unbounded at corpus scale — distinct terms grow into the billions, so a
    forced broadcast would be a driver OOM; AQE still picks a broadcast at
    runtime when the measured vocabulary is actually small), corpus size N
    as a 1-row broadcast (no driver action) → per-doc window top-k. The
    full-data shuffles are the two partial aggregations plus the term-keyed
    join — all linear at 100 TB.
    """
    from pyspark.sql import Window

    tok = spread(df, id_col).select(
        F.col(id_col), F.explode(ws_tokens(text_col)).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.countDistinct(id_col).alias("n_docs"))
    idf = F.round(portable_ln_ratio(F.col("n_docs"), F.col("df")), 6)
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("idf", idf)
        .withColumn("score", F.round(F.col("tf") * F.col("idf"), 6))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(id_col, "term", F.col("tf").cast("bigint").alias("tf"), "idf", "score")
    )


def unigram_surprisal(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean unigram surprisal (bits/token) under the corpus's
    own empirical unigram model — the cheap perplexity-style quality signal
    a training pipeline uses to rank/filter documents (low surprisal ≈
    repetitive boilerplate, high ≈ rare-token noise).

    Scale shape mirrors TF-IDF: explode → (doc, term) and term partial
    aggregations, then the unbounded term-probability table joins back on
    ``term`` WITHOUT a broadcast hint (vocabulary grows with the corpus;
    AQE may still broadcast a small measured one), corpus total as a 1-row
    broadcast. All shuffles linear; the surprisal ``ln(N/cf)`` is an
    integer-ratio log so it rides the engine-portable
    ``portable_ln_ratio`` (libm ln is last-ulp divergent across engines),
    then rounds to 6 d.p.
    """
    tok = spread(df, id_col).select(
        F.col(id_col), F.explode(ws_tokens(text_col)).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    cf = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    total = cf.agg(F.sum("cf").alias("n_total"))
    # -log2 p(term) = ln(N/cf) / ln 2, accumulated per doc weighted by tf
    surprisal = portable_ln_ratio(F.col("n_total"), F.col("cf")) / F.lit(LN2)
    # per-term contributions ride DECIMAL so the distributed sum order
    # cannot change the result (see repo determinism conventions)
    contrib = F.round(surprisal, 6).cast("decimal(18,6)") * F.col("tf")
    return (
        tf.join(cf, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(contrib).cast("double") / F.sum("tf").cast("double"), 6
            ).alias("mean_surprisal_bits"),
        )
    )


# Sentence segmentation. All regexes stay in the Java-regex ∩ RE2 subset
# (no lookbehind — boundaries are MARKED with a sentinel and split on it,
# the portable alternative to the classic '(?<=[.!?])\s+' split).
SENTENCE_ABBREVIATIONS: tuple[str, ...] = (
    "Dr", "Mr", "Mrs", "Ms", "Prof", "St", "No", "vs", "etc",
    "Jan", "Feb", "Mar", "Apr", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec",
)
_PROT = "\x01"  # protected (non-boundary) period sentinel
_BOUND = "\x02"  # sentence-boundary sentinel


def sentence_boundary_exprs(
    text: Column, abbreviations: tuple[str, ...] = SENTENCE_ABBREVIATIONS
) -> Column:
    """Array of sentences from punctuated ``text`` — pure Catalyst.

    Boundary rule: a run of ``. ! ?`` (optionally followed by a closing
    double quote) terminates a sentence when followed by whitespace —
    EXCEPT periods inside decimal numbers (``$12.50``) and periods that
    belong to a known abbreviation (``Dr.``, ``Jan.`` — case-sensitive
    LUT). Implementation: protect the two exception classes with a
    sentinel, mark real boundaries with a second sentinel, split on it,
    restore. Map-side only; no shuffle.
    """
    s = F.regexp_replace(text, r"([0-9])\.([0-9])", "$1" + _PROT + "$2")
    s = F.regexp_replace(s, r"\b(" + "|".join(abbreviations) + r")\.", "$1" + _PROT)
    s = F.regexp_replace(s, r'([.!?]+["]?)[ ]+', "$1" + _BOUND)
    return F.transform(
        F.split(s, _BOUND), lambda x: F.replace(x, F.lit(_PROT), F.lit("."))
    )


def segment_sentences(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Explode punctuated documents into (id, sent_id, n_tokens, sentence)
    rows — 1-based sentence ids in document order. The segmentation itself
    is embarrassingly parallel (see :func:`sentence_boundary_exprs`); the
    explode is the only fan-out and carries no shuffle."""
    sents = sentence_boundary_exprs(F.col(text_col), SENTENCE_ABBREVIATIONS)
    return (
        spread(df, id_col)
        .select(F.col(id_col), F.posexplode(sents).alias("pos", "sentence"))
        .select(
            F.col(id_col),
            (F.col("pos") + 1).cast("bigint").alias("sent_id"),
            F.size(ws_tokens(F.col("sentence"))).cast("bigint").alias("n_tokens"),
            F.col("sentence"),
        )
    )


# Default PII pattern catalog. Patterns are restricted to syntax shared by
# Java regex (Spark) and RE2 (DuckDB/many engines): no backrefs, no lookahead.
PII_PATTERNS: Mapping[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9 ().-]{7,}[0-9]",
    "ipv4": r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "digit_run": r"[0-9]{6,}",
}


def pii_metrics(
    df: DataFrame,
    text_col: str,
    patterns: Mapping[str, str] = PII_PATTERNS,
) -> DataFrame:
    """Per-row PII match counts (one ``n_<name>`` column per pattern) plus a
    masked copy of the text with every match replaced. Pure Catalyst
    (regexp_extract_all / regexp_replace) — map-side only, no shuffle;
    patterns are applied in dict order so masking is deterministic."""
    out = df
    masked = F.col(text_col)
    for name, pat in patterns.items():
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))).cast("bigint"),
        )
        masked = F.regexp_replace(masked, pat, "[PII]")
    return out.withColumn("masked", masked)


def bigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    empirical bigram model — the KenLM-style LM-score filter of real
    training pipelines (e.g. CCNet's perplexity bucketing), expressed
    relationally with the corpus itself as the model.

    P(w2|w1) = c(w1,w2) / c(w1·), where c(w1·) sums bigram counts by
    left context (so final-position tokens are not contexts). Every
    bigram the scorer sees is in the model by construction (train ==
    score corpus), so no smoothing is needed.

    Scale shape: positional bigrams are built map-side with a slice-zip
    (no self-join), counted with one bigram-keyed shuffle; the model
    joins back on the bigram key WITHOUT a broadcast hint (bigram
    vocabulary is unbounded at corpus scale). ``ln(c12/c1)`` is an
    integer-ratio log → engine-portable ``portable_ln_ratio`` (rounded to
    6 d.p.); per-bigram contributions ride DECIMAL for order-invariant
    sums.
    """
    toks = ws_tokens(text_col)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bg = (
        spread(df, id_col)
        .where(F.size(toks) >= 2)
        .select(F.col(id_col), F.explode(bigrams).alias("bigram"))
    )
    tf = bg.groupBy(id_col, "bigram").agg(F.count(F.lit(1)).alias("tf"))
    # context denominator c1 as a window sum over the model frame's own
    # w1-keyed exchange — the agg+self-join formulation exchanged the
    # same frame twice (once for the c1 rollup, once for the join)
    c12 = (
        tf.groupBy("bigram")
        .agg(F.sum("tf").alias("c12"))
        .withColumn("w1", F.substring_index("bigram", " ", 1))
    )
    model = c12.withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
    logp = F.round(portable_ln_ratio(F.col("c12"), F.col("c1")), 6).cast(
        "decimal(18,6)"
    )
    return (
        tf.join(model.select("bigram", logp.alias("logp")), "bigram")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(F.col("logp") * F.col("tf")).cast("double")
                / F.sum("tf").cast("double"),
                6,
            ).alias("mean_logprob"),
        )
    )


def stupid_backoff_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document mean trigram score under a count-pruned corpus trigram
    model with Stupid Backoff to bigrams (Brants et al. 2007, "Large
    Language Models in Machine Translation" — public algorithm):

    ``S(w3|w1 w2) = c(w1w2w3)/c(w1w2·)`` when the trigram survives count
    pruning (``c >= 2``, the standard LM-pruning knob), else
    ``0.4 * c(w2w3)/c(w2·)``. Train == score corpus, so the bigram
    backoff is always defined; pruning is what makes backoff genuinely
    fire (singleton trigrams dominate any natural corpus).

    Scale shape: positional trigrams are built map-side with slice-zips
    (no self-join) and counted with ONE ngram-keyed shuffle; bigram
    counts are DERIVED, not re-exploded — every bigram occurrence in a
    doc of n tokens is either the 2-prefix of the trigram starting at
    the same position (positions 1..n-2) or the doc's LAST bigram
    (position n-1), so c(w1 w2) = Σ_{prefix2(t)=w1 w2} c(t) + #{docs
    whose last bigram is w1 w2} — a rollup over the (small) distinct-
    trigram frame plus a one-row-per-doc aggregate, replacing a second
    full-corpus explode+shuffle. Context denominators (c(w1 w2·),
    c(w2·)) ride window sums over the model frames (one exchange each,
    no agg+self-join pair). Models join back on the ngram key WITHOUT a
    broadcast hint (ngram vocabulary is unbounded at corpus scale —
    same policy as TF-IDF/BM25). Log-scores use the engine-portable ln
    (functions/portable_math.py — libm ln differs across engines in the
    last ulp, which flipped a round-6 boundary on this very model),
    rounded to 6 d.p. per trigram, contributions riding DECIMAL for
    order-invariant sums.

    Output: (id, n_trigrams, n_backoff, mean_score_micro) — the mean in
    integer micro-nats (see the tail comment for why not ROUND(double)).
    """
    from platform_etl_backend_spark.functions.portable_math import portable_ln_ratio

    ln_alpha = math.log(0.4)  # shared double literal on both engines
    toks = ws_tokens(text_col)
    n2 = F.greatest(F.size(toks) - 1, F.lit(0))
    n3 = F.greatest(F.size(toks) - 2, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n2), F.slice(toks, 2, n2),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    trigrams = F.zip_with(
        F.slice(bigrams, 1, n3), F.slice(toks, 3, n3),
        lambda ab, c: F.concat(ab, F.lit(" "), c),
    )
    base = spread(df, id_col)
    tg = base.where(F.size(toks) >= 3).select(
        F.col(id_col), F.explode(trigrams).alias("trigram")
    )

    # Per-document term frequencies FIRST, then global counts as a rollup
    # of tf — the raw (doc, trigram) explode is shuffled once, not twice
    # (the tf aggregation partially combines map-side, so the second
    # trigram-keyed aggregation sees the much smaller deduped frame).
    tf = tg.groupBy(id_col, "trigram").agg(F.count(F.lit(1)).alias("tf"))

    # trigram model: context counts use ALL trigram occurrences; the
    # numerator table keeps only trigrams surviving count pruning. The
    # context denominator c12 is a window sum over the SAME ctx12-keyed
    # exchange the model frame needs anyway (agg+self-join would pay the
    # exchange twice).
    c123_all = (
        tf.groupBy("trigram")
        .agg(F.sum("tf").cast("bigint").alias("c123"))
        .withColumn("ctx12", F.substring_index("trigram", " ", 2))
    )
    w12 = Window.partitionBy("ctx12")
    tri = c123_all.withColumn("c12", F.sum("c123").over(w12))
    tri_model = tri.where(F.col("c123") >= 2).select(
        "trigram",
        F.round(
            portable_ln_ratio(F.col("c123"), F.col("c12")), 6
        ).cast("decimal(18,6)").alias("tri_logp"),
    )

    # bigram backoff model over the same corpus, DERIVED from the trigram
    # counts: a bigram occurrence at position i (1-based, i <= n-1) is the
    # 2-prefix of the trigram at position i for i <= n-2, leaving exactly
    # the doc's LAST bigram (i = n-1; docs with n == 2 have only it). So
    # c23 = per-ctx12 trigram-count rollup + last-bigram doc counts — no
    # second full-corpus explode. The ctx12 rollup is zero-exchange: `tri`
    # is already partitioned by ctx12 after the window.
    pre = tri.groupBy(F.col("ctx12").alias("bigram")).agg(
        F.max("c12").alias("c_pre")  # c12 is constant within ctx12
    )
    last_bg = F.concat_ws(" ", F.element_at(toks, -2), F.element_at(toks, -1))
    lastc = (
        base.where(F.size(toks) >= 2)
        .select(last_bg.alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_last"))
    )
    c23 = (
        pre.join(lastc, "bigram", "full")
        .select(
            "bigram",
            (
                F.coalesce(F.col("c_pre"), F.lit(0))
                + F.coalesce(F.col("c_last"), F.lit(0))
            ).cast("bigint").alias("c23"),
        )
        .withColumn("w2", F.substring_index("bigram", " ", 1))
    )
    w2win = Window.partitionBy("w2")
    bi_model = c23.withColumn("c2", F.sum("c23").over(w2win)).select(
        "bigram",
        F.round(
            F.lit(ln_alpha) + portable_ln_ratio(F.col("c23"), F.col("c2")), 6
        ).cast("decimal(18,6)").alias("bo_logp"),
    )

    scored = (
        tf.withColumn("bigram", F.substring_index("trigram", " ", -2))
        .join(tri_model, "trigram", "left")
        .join(bi_model, "bigram")
        .select(
            F.col(id_col),
            "tf",
            F.coalesce("tri_logp", "bo_logp").alias("logp"),
            F.when(F.col("tri_logp").isNull(), F.col("tf")).otherwise(0).alias("nbo"),
        )
    )
    # The mean is a 6-dp decimal sum divided by an integer — it lands
    # EXACTLY on round-half boundaries by construction (e.g. sum/10), and
    # ROUND(double, 6) disagrees across engines at ties (Spark rounds the
    # exact binary expansion via BigDecimal; DuckDB scales by 1e6 first).
    # So the mean is emitted in integer micro-nats with explicit
    # round-half-away integer arithmetic — bit-portable everywhere.
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_trigrams"),
            F.sum("nbo").cast("bigint").alias("n_backoff"),
            (F.sum(F.col("logp") * F.col("tf")) * 1000000)
            .cast("bigint")
            .alias("s_micro"),
        )
        .select(
            F.col(id_col),
            "n_trigrams",
            "n_backoff",
            F.expr(
                "CASE WHEN s_micro < 0 THEN -((2 * (-s_micro) + n_trigrams) div (2 * n_trigrams)) "
                "ELSE (2 * s_micro + n_trigrams) div (2 * n_trigrams) END"
            ).cast("bigint").alias("mean_score_micro"),
        )
    )


def chunk_documents(
    df: DataFrame, id_col: str, text_col: str, size: int = 32, stride: int = 24
) -> DataFrame:
    """Sliding-window chunking (the RAG / long-context preprocessing step):
    split each document into token windows of ``size`` starting every
    ``stride`` tokens (overlap = size - stride). Chunk starts run while
    they fit fully inside the document (start + size - 1 <= n); documents
    shorter than ``size`` yield one whole-doc chunk.

    Entirely map-side (sequence + slice higher-order functions, one
    explode) — embarrassingly parallel at any corpus size.
    """
    toks = ws_tokens(text_col)
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n - (size - 1), F.lit(1)), F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start"),
            F.concat_ws(" ", F.slice(toks, s, size)).alias("chunk_text"),
            F.least(n - s + 1, F.lit(size)).alias("n_tokens"),
        ),
    )
    return (
        spread(df, id_col)
        .where(n >= 1)
        .select(F.col(id_col), F.posexplode(chunks).alias("idx", "c"))
        .select(
            id_col,
            (F.col("idx") + 1).alias("chunk_id"),
            F.col("c.start").alias("start"),
            F.col("c.n_tokens").alias("n_tokens"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int = 512,
    partition_col: str | None = None,
) -> DataFrame:
    """Concatenate-and-split sequence packing (the GPT-style training
    prep: documents are concatenated in id order and the token stream is
    cut every ``budget`` tokens): each document is attributed to the bin
    containing its first token, so a document may straddle a boundary —
    per-bin fill ratios expose the straddle.

    Scale: packing is sequential BY DESIGN (each decision depends on the
    running total), so the window runs per ``partition_col`` (domain /
    shard key), never globally — a 100 TB corpus packs each shard
    independently in parallel, which is how real pipelines shard packing.
    With partition_col=None a single global sequence is built (small
    inputs only; the plan contains a single-partition window).

    Bin id without iteration: floor(exclusive-prefix-sum / budget) — one
    window cumsum, no sequential loop.
    """
    toks = ws_tokens(text_col)
    part = [partition_col] if partition_col else []
    d = df.select(
        *part, F.col(id_col), F.size(toks).alias("n_tokens")
    )
    w = Window.partitionBy(*part).orderBy(id_col)
    cum = F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1))
    d = d.withColumn("bin", F.floor(F.coalesce(cum, F.lit(0)) / budget).cast("bigint"))
    return d.groupBy(*part, "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("tokens"),
        F.round(F.sum("n_tokens") / F.lit(float(budget)), 6).alias("fill"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def _gram_counts(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gram, cnt) multiset counts of word n-grams (n = 1 or 2)."""
    toks = ws_tokens(text_col)
    if n == 1:
        grams = toks
    else:
        m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
        grams = F.zip_with(
            F.slice(toks, 1, m),
            F.slice(toks, n, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return (
        spread(df, id_col)
        .select(F.col(id_col), F.explode(grams).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def rouge_overlap(
    docs: DataFrame, pairs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """ROUGE-1/ROUGE-2 between (cand_id, ref_id) pairs (Lin 2004, public
    metric): clipped n-gram overlap o = Σ_g min(cnt_cand(g), cnt_ref(g)),
    precision o/tc, recall o/tr, and F1 — which for ROUGE reduces exactly
    to the integer ratio 2o/(tc+tr), so every output is one IEEE-exact
    division of integers rounded to 6 d.p. (engine-identical, no libm).

    Scale shape: per-doc gram counts are one (id, gram)-keyed partial-agg
    shuffle each; the overlap join is keyed (ref_id, gram) after a
    doc-keyed pairs join — all hint-free and linear in corpus + pair-gram
    size; no all-pairs stage (the pair list is an input, not derived).
    """
    out = pairs
    for n in (1, 2):
        # the gram-count frame feeds the candidate side, the reference side,
        # AND both totals — persist at the reuse point or the corpus is
        # re-scanned and re-aggregated for every reference at runtime
        # (2.2s -> 1.3s at sf0.1; the static plan text still shows the
        # lineage per reference, so PLAN_AUDIT's scan count is unchanged)
        g = _gram_counts(docs, id_col, text_col, n).persist()
        tot = g.groupBy(id_col).agg(F.sum("cnt").alias("tot")).persist()
        gc = g.select(
            F.col(id_col).alias("cand_id"), "gram", F.col("cnt").alias("c_cnt")
        )
        gr = g.select(
            F.col(id_col).alias("ref_id"), "gram", F.col("cnt").alias("r_cnt")
        )
        ov = (
            pairs.join(gc, "cand_id")
            .join(gr, ["ref_id", "gram"])
            .groupBy("cand_id", "ref_id")
            .agg(F.sum(F.least("c_cnt", "r_cnt")).alias("o"))
        )
        stats = (
            pairs.join(ov, ["cand_id", "ref_id"], "left")
            .join(tot.select(F.col(id_col).alias("cand_id"), F.col("tot").alias("tc")), "cand_id")
            .join(tot.select(F.col(id_col).alias("ref_id"), F.col("tot").alias("tr")), "ref_id")
            .select(
                "cand_id",
                "ref_id",
                F.coalesce(F.col("o"), F.lit(0)).cast("bigint").alias(f"o{n}"),
                F.round(
                    F.coalesce(F.col("o"), F.lit(0)).cast("double") / F.col("tc").cast("double"), 6
                ).alias(f"rouge{n}_p"),
                F.round(
                    F.coalesce(F.col("o"), F.lit(0)).cast("double") / F.col("tr").cast("double"), 6
                ).alias(f"rouge{n}_r"),
                F.round(
                    (F.lit(2) * F.coalesce(F.col("o"), F.lit(0))).cast("double")
                    / (F.col("tc") + F.col("tr")).cast("double"),
                    6,
                ).alias(f"rouge{n}_f"),
            )
        )
        out = out.join(stats, ["cand_id", "ref_id"])
    return out


def skipgram_pairs(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Corpus-wide skip-gram (center, context) pair counts within a token
    window — the word2vec/GloVe training-pair extraction step. Pairs are
    built MAP-SIDE with slice-zips (one shifted zip + its mirror per
    distance, no positional self-join), then one (center, context)-keyed
    aggregation and a TakeOrderedAndProject top-k with a full lexicographic
    tiebreak."""
    toks = ws_tokens(text_col)
    arrs = []
    for d in (1, 2):
        m = F.greatest(F.size(toks) - d, F.lit(0))
        fwd = F.zip_with(
            F.slice(toks, 1, m), F.slice(toks, 1 + d, m),
            lambda a, b: F.struct(a.alias("c"), b.alias("x")),
        )
        bwd = F.zip_with(
            F.slice(toks, 1, m), F.slice(toks, 1 + d, m),
            lambda a, b: F.struct(b.alias("c"), a.alias("x")),
        )
        arrs += [fwd, bwd]
    return (
        spread(df, id_col)
        .select(F.explode(F.concat(*arrs)).alias("p"))
        .groupBy(F.col("p.c").alias("center"), F.col("p.x").alias("context"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "center", "context")
        .limit(50)
    )


def hashed_features(
    df: DataFrame, id_col: str, text_col: str, width: int = 64
) -> DataFrame:
    """Feature hashing (Weinberger et al. 2009, the 'hashing trick'): each
    token maps to ``md5('fh:'||token) mod width`` with a ±1 sign from the
    next hash nibble, accumulated per (doc, bucket) — the fixed-dimension
    text vectorizer that needs NO vocabulary pass (the property that makes
    it the streaming/100TB-friendly featurizer). Output is long-form
    (id, bucket, val), non-zero buckets only. One explode + one
    (id, bucket)-keyed aggregation; md5 keeps the bucketing portable to
    any engine (same convention as the count-min sketch)."""
    tok = (
        spread(df, id_col)
        .select(F.col(id_col), F.explode(ws_tokens(text_col)).alias("term"))
        # empty/whitespace-only docs tokenize to [''] — don't hash the
        # empty token (it isn't a feature; matches the python twin)
        .where(F.col("term") != "")
    )
    h = F.md5(F.concat(F.lit("fh:"), F.col("term")))
    hexd = "0123456789abcdef"
    d1 = F.instr(F.lit(hexd), F.substring(h, 1, 1)) - 1
    d2 = F.instr(F.lit(hexd), F.substring(h, 2, 1)) - 1
    d3 = F.instr(F.lit(hexd), F.substring(h, 3, 1)) - 1
    bucket = ((d1 * 16 + d2) % width).cast("int")
    sign = F.when(d3 < 8, F.lit(1)).otherwise(F.lit(-1))
    return (
        tok.select(F.col(id_col), bucket.alias("bucket"), sign.alias("sign"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("sign").cast("bigint").alias("val"))
        .where(F.col("val") != 0)
    )


# --- model-based quality filter (trained linear classifier) -----------------

# Committed weights of the fastText/DSIR-style linear quality classifier,
# trained OFFLINE by scripts/train_quality_weights.py (logistic regression
# over the 64-dim hashed_features vectorizer; label = doc distinct-token
# ratio >= corpus median, i.e. "predict repetition-heavy docs from
# bag-of-words evidence"; train accuracy 0.782 at base rate 0.5 — see the
# script header for the full recipe). Micro-unit integers so that scoring
# is pure BIGINT arithmetic: bit-identical on every engine, no libm, no
# rounding scaffolding. This is the standard model-based quality filter
# that sits beside the heuristic Gopher/C4 rules in LLM-data pipelines
# (reference has no such operator; public algorithm: fastText supervised /
# DSIR importance weighting).
QUALITY_BIAS_MICRO = 11809537
QUALITY_WEIGHTS_MICRO = (
    0, -185670, 74656, -350001, 0, -423127, 376997, 0,
    -668031, 837, -620604, 0, 0, 0, -295308, -178295,
    406795, -540096, 130127, 0, 0, -127420, -323614, -229087,
    0, -747850, 0, 0, 0, 0, 0, 288383,
    -425160, 0, -469832, -507395, 0, 0, 0, -319924,
    0, 0, 0, 0, 0, 468433, 0, 0,
    0, -130883, 0, 0, 353029, 0, 0, 0,
    0, 0, 0, 0, 250357, 54365, -418134, 0,
)


def quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights_micro: tuple[int, ...] = QUALITY_WEIGHTS_MICRO,
    bias_micro: int = QUALITY_BIAS_MICRO,
    threshold_micro: int = 0,
) -> DataFrame:
    """Score every doc with the committed linear model over hashed
    bag-of-words features and threshold the logit — the model-based
    quality filter (fastText-style classifier filter / DSIR).

    logit_micro = bias + sum_b count_b * w_b, all BIGINT (counts are the
    signed hashed-feature values, weights are micro-units), so the score
    is exact integer arithmetic — engine-portable by construction.
    ``passed`` = logit_micro >= threshold_micro (0 == probability 0.5).

    Scale: hashed_features is one explode + one (doc, bucket) aggregation
    (vocabulary-free — no df table, no broadcast); the weight lookup is an
    element_at into a 64-literal array (map-side); the dot product is one
    (doc)-keyed SUM. Two narrow shuffles total, no joins — this filter
    runs over 100 TB as a single pass."""
    feats = hashed_features(df, id_col, text_col, width=len(weights_micro))
    warr = F.array(*[F.lit(int(w)).cast("bigint") for w in weights_micro])
    contrib = F.col("val") * F.element_at(warr, F.col("bucket") + 1)
    logit = (
        feats.select(F.col(id_col), contrib.alias("c"))
        .groupBy(id_col)
        .agg((F.lit(int(bias_micro)).cast("bigint") + F.sum("c")).alias("logit_micro"))
    )
    # docs whose every token hashed to a zero-weight bucket (or with no
    # tokens at all) never appear in feats' non-zero rows — left-join back
    # so the filter scores EVERY doc (bias-only logit), as the python
    # model does
    return (
        df.select(id_col)
        .distinct()
        .join(logit, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("logit_micro"), F.lit(int(bias_micro)).cast("bigint")).alias(
                "logit_micro"
            ),
        )
        .withColumn(
            "passed",
            (F.col("logit_micro") >= F.lit(int(threshold_micro))).cast("int"),
        )
    )
