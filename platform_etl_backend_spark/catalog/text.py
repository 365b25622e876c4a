"""LLM-training-data text operators over the ``documents`` table:
deduplication (exact, fingerprint, n-gram Jaccard, MinHash+LSH, SimHash,
winnowing) and text analysis (token counting, quality, language-ID).

Oracle SQL is generated from the SAME constants (shingle k, hash seeds,
band layout, stopword lists) as the Spark implementations, so both sides
mirror by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from platform_etl_backend_spark.catalog.registry import register, table
from platform_etl_backend_spark.functions.portable_math import (
    duck_portable_ln_ratio,
    portable_ln_ratio as _portable_ln_ratio,
)
from platform_etl_backend_spark.operators import dedup as D
from platform_etl_backend_spark.operators import nlp as NLP
from platform_etl_backend_spark.operators import textqa as TQ
from platform_etl_backend_spark.operators.stats import COUNT_MIN_DEPTH

# Each is read by a query and by its DuckDB oracle, so the two cannot drift.
_MINHASH_HASHES = 8
_MINHASH_BANDS = 4
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 3
_CM_TOPK = 20

# DuckDB fragments ----------------------------------------------------------

_T = "string_split_regex(trim(text), ' +')"


def _duck_shingles(k: int) -> str:
    return (
        f"CASE WHEN len(t) >= {k} THEN "
        f"list_distinct([array_to_string(t[i:i+{k - 1}], ' ') "
        f"FOR i IN range(1, greatest(len(t)-{k - 1}, 0)+1)]) "
        f"ELSE [array_to_string(t, ' ')] END"
    )


_SHINGLE_CTE = f"""
toks AS (SELECT doc_id, {_T} AS t FROM documents),
sh AS (SELECT doc_id, unnest({_duck_shingles(3)}) AS shingle FROM toks),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
"""


@register(
    "q_dedup_exact",
    oracle="""
    WITH g AS (SELECT md5(trim(text)) AS fp, COUNT(*) AS cnt FROM documents GROUP BY fp)
    SELECT CAST(SUM(cnt) AS BIGINT) AS n_docs,
           COUNT(*) AS n_distinct,
           CAST(COALESCE(SUM(cnt) FILTER (WHERE cnt > 1), 0) AS BIGINT) AS n_dup_docs
    FROM g
    """,
    description="exact dedup via hash-groupBy fingerprint — corpus summary",
    tags=("dedup", "text"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_summary(table(spark, sf_dir, "documents"), "text")


@register(
    "q_fingerprint_groups",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct({_T})), ' ')) AS fp
      FROM documents)
    SELECT fp, COUNT(*) AS cnt, MIN(doc_id) AS canonical_id,
           array_to_string(list_sort(list(doc_id)), '|') AS members
    FROM fp GROUP BY fp HAVING COUNT(*) > 1
    """,
    description="order-insensitive bag-of-words fingerprint dedup groups. "
    "'|'-serialized members (canonicalizer-proof contract).",
    tags=("dedup", "text"),
)
def q_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = D.bag_fingerprint_groups(table(spark, sf_dir, "documents"), "doc_id", "text")
    return g.withColumn(
        "members", F.concat_ws("|", F.transform("members", lambda x: x.cast("string")))
    )


# Document pairs with shingle Jaccard >= 0.5, by brute-force shingle join.
_JACCARD_PAIRS_DUCK = f"""
    WITH {_SHINGLE_CTE},
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b)
    SELECT id_a, id_b, inter,
           ROUND(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 6) AS jaccard
    FROM inter JOIN sz za ON id_a = za.doc_id JOIN sz zb ON id_b = zb.doc_id
    WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.5
    """


@register(
    "q_ngram_jaccard",
    oracle=_JACCARD_PAIRS_DUCK,
    description="exact n-gram Jaccard near-dup pairs via shared-shingle join "
    "(small-scale baseline; MinHash+LSH is the 100TB path)",
    tags=("dedup", "text"),
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", k=3
    )


# MinHash signature columns h0..h{n-1} over the shingle rows of sh.
_MINHASH_SIG_COLS_DUCK = ", ".join(
    f"MIN(md5('{i}:' || shingle)) AS h{i}" for i in range(_MINHASH_HASHES)
)


def _duck_lsh_candidates(hash_cols: str, source: str) -> str:
    """CTEs sig (the signature columns ``hash_cols`` per doc over ``source``),
    keyed (one md5 band key per band) and cands (distinct doc pairs
    id_a < id_b sharing a band key)."""
    r = _MINHASH_HASHES // _MINHASH_BANDS
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5(concat_ws('|', {', '.join(f'h{b * r + rr}' for rr in range(r))})) AS key FROM sig"
        for b in range(_MINHASH_BANDS)
    )
    return f"""sig AS (SELECT doc_id, {hash_cols} FROM {source} GROUP BY doc_id),
    keyed AS ({band_rows}),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM keyed a JOIN keyed b ON a.band = b.band AND a.key = b.key
                                AND a.doc_id < b.doc_id)"""


def _lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Distinct doc pairs ``id_a < id_b`` whose signatures share a band key."""
    keyed = D._banded_keys(sig, "doc_id", _MINHASH_HASHES, _MINHASH_BANDS)
    ka = keyed.select(F.col("doc_id").alias("id_a"), "band", "key")
    kb = keyed.select(F.col("doc_id").alias("id_b"), "band", "key")
    return (
        ka.join(kb, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _recall_stats(truth: DataFrame, cands: DataFrame) -> DataFrame:
    """Truth, candidate and verified pair counts, recall and candidate
    precision (round-half-away integer micro); verified = truth pairs that
    are candidates."""
    # one aggregation yields BOTH counts: n_truth = all truth pairs,
    # n_verified = truth pairs that are also candidates (left join against
    # the distinct candidate set adds a 0/1 flag, never duplicates)
    flagged = truth.join(
        cands.withColumn("is_cand", F.lit(1)), ["id_a", "id_b"], "left"
    )
    stats = flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.coalesce(F.sum("is_cand"), F.lit(0)).cast("bigint").alias("n_verified"),
    )
    n_cands = cands.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    return (
        stats.crossJoin(F.broadcast(n_cands))
        .selectExpr(
            "n_truth", "n_candidates", "n_verified",
            "CAST(CASE WHEN n_truth = 0 THEN 0"
            " ELSE (2 * 1000000 * n_verified + n_truth) div (2 * n_truth) END"
            " AS BIGINT) AS recall_micro",
            "CAST(CASE WHEN n_candidates = 0 THEN 0"
            " ELSE (2 * 1000000 * n_verified + n_candidates)"
            " div (2 * n_candidates) END AS BIGINT) AS cand_precision_micro",
        )
    )


# The tail of a recall oracle over CTEs truth, cands and ver: the s CTE's
# select list and the final select of counts, recall and candidate precision.
_RECALL_SELECT_DUCK = """CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
             CAST((SELECT COUNT(*) FROM cands) AS BIGINT) AS n_candidates,
             CAST((SELECT COUNT(*) FROM ver) AS BIGINT) AS n_verified)
    SELECT n_truth, n_candidates, n_verified,
           CAST(CASE WHEN n_truth = 0 THEN 0
                ELSE (2 * 1000000 * n_verified + n_truth) // (2 * n_truth) END
                AS BIGINT) AS recall_micro,
           CAST(CASE WHEN n_candidates = 0 THEN 0
                ELSE (2 * 1000000 * n_verified + n_candidates)
                     // (2 * n_candidates) END AS BIGINT) AS cand_precision_micro
    FROM s
    """


def _minhash_oracle() -> str:
    return f"""
    WITH {_SHINGLE_CTE},
    {_duck_lsh_candidates(_MINHASH_SIG_COLS_DUCK, "sh")},
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS inter
      FROM cands c JOIN sh a ON a.doc_id = c.id_a
                   JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b)
    SELECT id_a, id_b,
           ROUND(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 6) AS jaccard
    FROM inter JOIN sz za ON id_a = za.doc_id JOIN sz zb ON id_b = zb.doc_id
    WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= {D.MINHASH_THRESHOLD}
    """


@register(
    "q_minhash_lsh",
    oracle=_minhash_oracle(),
    description="MinHash+LSH near-dup pipeline: shingle → 8 min-hashes → 4 bands → "
    "bucket-join candidates → exact-Jaccard verify (the scale path)",
    tags=("dedup", "text", "lsh"),
)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_dedup_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        num_hashes=_MINHASH_HASHES, bands=_MINHASH_BANDS,
    )


def _simhash_oracle() -> str:
    sums = []
    for b in range(D.SIMHASH_BITS):
        c, j = b // 4 + 1, b % 4
        sums.append(
            f"SUM((((strpos('0123456789abcdef', h[{c}]) - 1) >> {j}) & 1) * 2 - 1) AS s{b}"
        )
    hash_terms = " + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(D.SIMHASH_BITS))
    return f"""
    WITH tok AS (SELECT doc_id, unnest({_T}) AS tok FROM documents),
    hashed AS (SELECT doc_id, md5(tok) AS h FROM tok),
    sums AS (SELECT doc_id, {', '.join(sums)} FROM hashed GROUP BY doc_id)
    SELECT doc_id, CAST({hash_terms} AS BIGINT) AS simhash FROM sums
    """


@register(
    "q_simhash",
    oracle=_simhash_oracle(),
    description="16-bit frequency-weighted SimHash per document (near-dup sketch)",
    tags=("dedup", "text"),
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "q_winnow_fingerprint",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_T} AS t FROM documents)
    SELECT doc_id,
           list_min(list_transform({_duck_shingles(5)}, s -> md5(s))) AS fingerprint
    FROM toks
    """,
    description="winnowing-style rolling 5-gram min-hash document fingerprint",
    tags=("dedup", "text"),
)
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.winnow_fingerprint(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sz za ON id_a = za.doc_id JOIN sz zb ON id_b = zb.doc_id
      WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.5),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
    comp AS (
      SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a)
    SELECT component, COUNT(*) AS cluster_size,
           array_to_string(list_sort(list(node)), '|') AS members
    FROM comp GROUP BY component
    """,
    description="near-dup pairs → duplicate clusters via distributed connected "
    "components (alternating large-star/small-star, O(log n) rounds) — the "
    "group-level dedup output. '|'-serialized members (canonicalizer-proof "
    "contract).",
    tags=("dedup", "text", "graph"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.graph import connected_components

    pairs = D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", k=3
    ).select("id_a", "id_b")
    # near-dup doc clusters are tiny stars — the star fixpoint lands in
    # ~2 rounds; checking every 2nd round halves the per-round action
    # overhead (round-11 orchestration audit, same as q_grid_cluster)
    cc = connected_components(pairs, "id_a", "id_b", check_every=2)
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.concat_ws(
            "|", F.transform(F.sort_array(F.collect_set("node")), lambda x: x.cast("string"))
        ).alias("members"),
    )


@register(
    "q_doc_tokens",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_T})) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{TQ.BPE_ISH_PATTERN}'))) AS BIGINT) AS bpe_tokens
    FROM documents GROUP BY source
    """,
    description="token counting: whitespace + BPE-ish regex pre-tokenizer",
    tags=("text",),
)
def q_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    ws, bpe = TQ.token_counts("text")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ws).cast("bigint").alias("ws_tokens"),
        F.sum(bpe).cast("bigint").alias("bpe_tokens"),
    )


@register(
    "q_label_keys",
    oracle=f"""
    SELECT {NLP.duckdb_label_key_sql('p_name')} AS label_key,
           COUNT(*) AS n_parts,
           MIN(p_partkey) AS sample_part
    FROM part GROUP BY label_key
    """,
    description="entity-grounding labelN join keys: normalize → tokenize → de-stop → "
    "stem → sorted-distinct-join, all Catalyst (X7 port; Grounding.scala:380-400)",
    tags=("text", "nlp"),
)
def q_label_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return (
        p.select(NLP.label_key("p_name").alias("label_key"), "p_partkey")
        .groupBy("label_key")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.min("p_partkey").alias("sample_part"))
    )


def _stop_list_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in TQ.LANG_STOPWORDS[lang]) + "]"


@register(
    "q_text_quality",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             CAST(len({_T}) AS BIGINT) AS n_tokens,
             CAST(length(trim(text)) AS BIGINT) AS n_chars_trim,
             CAST(len(list_filter({_T}, x -> list_contains({_stop_list_sql('en')}, lower(x))))
                  AS BIGINT) AS stop_hits
      FROM documents)
    SELECT doc_id, n_tokens,
           ROUND(CAST(n_chars_trim - (n_tokens - 1) AS DOUBLE) / n_tokens, 6) AS mean_word_len,
           ROUND(CAST(stop_hits AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
           CASE WHEN n_tokens < 5
                     OR ROUND(CAST(n_chars_trim - (n_tokens - 1) AS DOUBLE) / n_tokens, 6) < 2
                THEN 'low'
                WHEN ROUND(CAST(stop_hits AS DOUBLE) / n_tokens, 6) > 0.05 THEN 'high'
                ELSE 'mid' END AS quality_bucket
    FROM m
    """,
    description="document quality scoring: length, mean word length, stopword ratio, bucket",
    tags=("text",),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = TQ.quality_metrics(table(spark, sf_dir, "documents"), "text")
    return d.select("doc_id", "n_tokens", "mean_word_len", "stopword_ratio", "quality_bucket")


def _langid_oracle() -> str:
    langs = list(TQ.LANG_STOPWORDS)
    hit_cols = ", ".join(
        f"CAST(len(list_filter(t, x -> list_contains({_stop_list_sql(lang)}, lower(x)))) AS BIGINT)"
        f" AS hits_{lang}"
        for lang in langs
    )
    greatest = f"greatest({', '.join('hits_' + lang for lang in langs)})"
    pred = "CASE " + " ".join(
        f"WHEN hits_{lang} = best THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
    WITH toks AS (SELECT doc_id, lang, {_T} AS t FROM documents),
    hits AS (SELECT doc_id, lang, {hit_cols} FROM toks),
    scored AS (SELECT doc_id, lang, {greatest} AS best, * FROM hits)
    SELECT lang, CASE WHEN best <= 0 THEN 'unk' ELSE {pred} END AS pred_lang,
           COUNT(*) AS cnt
    FROM scored GROUP BY lang, pred_lang
    """


@register(
    "q_langid_confusion",
    oracle=_langid_oracle(),
    description="n-gram/stopword-heuristic language ID vs labeled lang (confusion counts)",
    tags=("text",),
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = TQ.langid_scores(table(spark, sf_dir, "documents"), "text")
    return d.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "q_repetition_ngrams",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_T} AS t FROM documents),
    g AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS gram
          FROM toks WHERE len(t) >= 2),
    c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram),
    d AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams, COUNT(*) AS distinct_grams,
                 CAST(MAX(cnt) AS BIGINT) AS top_gram_count
          FROM c GROUP BY doc_id)
    SELECT doc_id, n_grams, distinct_grams, top_gram_count,
           ROUND(CAST(top_gram_count AS DOUBLE) / n_grams, 6) AS top_gram_frac,
           ROUND(1 - CAST(distinct_grams AS DOUBLE) / n_grams, 6) AS dup_gram_frac
    FROM d
    """,
    description="Gopher-style repetition metrics: top-bigram fraction + duplicate-bigram "
    "fraction per doc (explode → two partial-agg shuffles; linear at 100TB)",
    tags=("text", "quality"),
)
def q_repetition_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TQ.ngram_repetition(table(spark, sf_dir, "documents"), "doc_id", "text")


def _gopher_oracle() -> str:
    return f"""
    WITH m AS (SELECT doc_id, {_T} AS t FROM documents),
    f AS (SELECT doc_id,
            CAST(len(t) AS BIGINT) AS n_tokens,
            ROUND(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t), 6)
                AS mean_word_len,
            CAST(list_max(list_transform(t, x -> length(x))) AS BIGINT) AS max_word_len,
            ROUND(CAST(len(list_filter(t, x -> regexp_full_match(x, '[A-Za-z]+'))) AS DOUBLE)
                  / len(t), 6) AS alpha_frac,
            CAST(len(list_filter(t, x -> list_contains({_stop_list_sql('en')}, lower(x))))
                 AS BIGINT) AS stop_hits
          FROM m)
    SELECT doc_id, n_tokens, mean_word_len, max_word_len, alpha_frac, stop_hits,
           (n_tokens BETWEEN 20 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
           AND alpha_frac >= 0.8 AND stop_hits >= 2 AS keep
    FROM f
    """


@register(
    "q_gopher_rules",
    oracle=_gopher_oracle(),
    description="heuristic quality-filter rules (Gopher/C4 style): token bounds, "
    "word-length stats, alphabetic fraction, stopword floor → keep flag (map-side only)",
    tags=("text", "quality"),
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TQ.gopher_quality_flags(table(spark, sf_dir, "documents"), "doc_id", "text")


def _pipeline_oracle() -> str:
    """The whole training-data preparation chain as one composed oracle:
    gopher quality filter → exact dedup (min doc id per fingerprint) →
    hash split → per-(source, split) stats."""
    return f"""
    WITH m AS (SELECT doc_id, source, text, {_T} AS t FROM documents),
    q AS (SELECT doc_id, source, text FROM m
          WHERE (len(t) BETWEEN 20 AND 100000)
            AND (ROUND(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                       / len(t), 6) BETWEEN 3.0 AND 10.0)
            AND ROUND(CAST(len(list_filter(t, x -> regexp_full_match(x, '[A-Za-z]+')))
                           AS DOUBLE) / len(t), 6) >= 0.8
            AND len(list_filter(t, x -> list_contains({_stop_list_sql('en')}, lower(x)))) >= 2),
    dd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(trim(text))
                                        ORDER BY doc_id) AS rn FROM q),
    k AS (SELECT doc_id, source, text FROM dd WHERE rn = 1),
    s AS (SELECT source,
                 CASE WHEN (strpos('0123456789abcdef',
                                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) < 13
                      THEN 'train' ELSE 'eval' END AS split,
                 doc_id,
                 len(string_split_regex(trim(text), ' +')) AS n_toks
          FROM k)
    SELECT source, split, COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens, MIN(doc_id) AS sample_doc
    FROM s GROUP BY source, split
    """


@register(
    "q_corpus_pipeline",
    oracle=_pipeline_oracle(),
    description="END-TO-END training-data pipeline composed from the catalog's own "
    "operators: Gopher quality filter (map-side) -> exact dedup keeping the "
    "smallest doc id per content fingerprint (one shuffle) -> deterministic md5 "
    "train/eval split (map-side) -> per-(source, split) corpus stats. One oracle "
    "verifies the whole composition, not just the pieces",
    tags=("text", "quality", "dedup", "split", "pipeline"),
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    flags = TQ.gopher_quality_flags(d, "doc_id", "text")
    kept = d.join(flags.where(F.col("keep")).select("doc_id"), "doc_id")
    w = Window.partitionBy(F.md5(F.trim("text"))).orderBy("doc_id")
    deduped = (
        kept.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )
    bucket = F.instr(
        F.lit("0123456789abcdef"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
    ) - 1
    return (
        deduped.select(
            "source",
            F.when(bucket < 13, "train").otherwise("eval").alias("split"),
            "doc_id",
            F.size(D.ws_tokens("text")).alias("n_toks"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            F.min("doc_id").alias("sample_doc"),
        )
    )


_PII_Q_PATTERNS = {"email": TQ.PII_PATTERNS["email"], "digit_run": TQ.PII_PATTERNS["digit_run"]}


@register(
    "q_pii_scrub",
    oracle=f"""
    SELECT c_custkey,
           CAST(len(regexp_extract_all(c_name, '{_PII_Q_PATTERNS["email"]}')) AS BIGINT)
               AS n_email,
           CAST(len(regexp_extract_all(c_name, '{_PII_Q_PATTERNS["digit_run"]}')) AS BIGINT)
               AS n_digit_run,
           regexp_replace(regexp_replace(c_name, '{_PII_Q_PATTERNS["email"]}', '[PII]', 'g'),
                          '{_PII_Q_PATTERNS["digit_run"]}', '[PII]', 'g') AS masked
    FROM customer
    """,
    description="PII detection + masking over a string column (regex catalog shared "
    "Java-regex/RE2 subset); counts per pattern + deterministic masked copy",
    tags=("text", "quality", "pii"),
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    out = TQ.pii_metrics(c, "c_name", _PII_Q_PATTERNS)
    return out.select("c_custkey", "n_email", "n_digit_run", "masked")


@register(
    "q_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_T}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             ROUND({duck_portable_ln_ratio("n.n_docs", "dfreq.df")}, 6) AS idf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, tf, idf, ROUND(tf * idf, 6) AS score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY ROUND(tf * idf, 6) DESC, term) AS rk
      FROM scored)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, idf, score
    FROM ranked WHERE rk <= 3
    """,
    description="per-document top-3 TF-IDF terms: two partial-agg shuffles + broadcast "
    "vocabulary join + per-doc window top-k (deterministic term tiebreak)",
    tags=("text", "scoring"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TQ.tfidf_top_terms(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "q_hash_split",
    oracle="""
    WITH b AS (
      SELECT doc_id, source,
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                 AS bucket
      FROM documents)
    SELECT source,
           CASE WHEN bucket < 13 THEN 'train' ELSE 'eval' END AS split,
           COUNT(*) AS n_docs, MIN(doc_id) AS sample_doc
    FROM b GROUP BY source, split
    """,
    description="deterministic train/eval split by content-stable hash bucket "
    "(md5 hex digit, 13/16 ≈ 81% train) — reproducible across engines and runs, "
    "no RNG; the split assignment is a pure map-side expression",
    tags=("text", "split"),
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    bucket = F.instr(F.lit("0123456789abcdef"),
                     F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) - 1
    return (
        d.select("doc_id", "source", bucket.alias("bucket"))
        .select(
            "source",
            F.when(F.col("bucket") < 13, "train").otherwise("eval").alias("split"),
            "doc_id",
        )
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("sample_doc"))
    )


@register(
    "q_decontaminate",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_T} AS t FROM documents),
    sh AS (SELECT doc_id, unnest({_duck_shingles(3)}) AS shingle FROM toks),
    ev AS (SELECT DISTINCT shingle, doc_id AS eval_id FROM sh WHERE doc_id < 15),
    tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 15)
    SELECT tr.doc_id,
           COUNT(DISTINCT tr.shingle) AS n_hit_shingles,
           COUNT(DISTINCT ev.eval_id) AS n_eval_docs,
           MIN(ev.eval_id) AS sample_eval
    FROM tr JOIN ev USING (shingle)
    GROUP BY tr.doc_id
    """,
    description="benchmark decontamination: flag training docs sharing verbatim "
    "word 3-grams with an eval set (docs 0-14 as the stand-in benchmark) — "
    "map-side shingling both sides, broadcast of the bounded eval set, "
    "per-doc hit counts (the pre-train verbatim-leak check)",
    tags=("dedup", "text", "decontamination"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return D.decontamination_hits(
        d.where(F.col("doc_id") >= 15),
        d.where(F.col("doc_id") < 15),
        "doc_id",
        "text",
        k=3,
    )


@register(
    "q_cap_per_group",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents)
    SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS sample_doc
    FROM ranked WHERE rk <= 40 GROUP BY source
    """,
    description="domain balancing: cap documents per source at 40 by content-hash "
    "rank (deterministic uniform within-group sample, identical on any cluster "
    "size) — the anti-domination operator for training-data mixes; "
    "WindowGroupLimit keeps the per-group work bounded",
    tags=("sampling", "text", "split"),
)
def q_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.sampling import cap_per_group

    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    capped = cap_per_group(d, ["source"], ["doc_id"], k=40)
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"), F.min("doc_id").alias("sample_doc")
    )


@register(
    "q_bottomk_sample",
    oracle="""
    SELECT doc_id, source FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || source), doc_id, source
    LIMIT 20
    """,
    description="exactly-k deterministic uniform sample: bottom-k by content "
    "hash rank (distributed reservoir-sampling equivalent — mergeable across "
    "shards, identical on any cluster size; plans as TakeOrderedAndProject, "
    "no global sort)",
    tags=("sampling", "text"),
)
def q_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.sampling import bottomk_sample

    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    return bottomk_sample(d, ["doc_id", "source"], k=20)


@register(
    "q_unigram_surprisal",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_T}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    cf AS (SELECT term, SUM(tf) AS cf FROM tf GROUP BY term),
    tot AS (SELECT SUM(cf) AS n_total FROM cf)
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           round(CAST(SUM(CAST(tf AS DECIMAL(18,0)) *
                          CAST(round({duck_portable_ln_ratio("n_total", "cf")}
                                     / 0.6931471805599453, 6) AS DECIMAL(18,6)))
                      AS DOUBLE)
                 / CAST(SUM(tf) AS DOUBLE), 6) AS mean_surprisal_bits
    FROM tf JOIN cf USING (term) CROSS JOIN tot
    GROUP BY doc_id
    """,
    description="per-document mean unigram surprisal (bits/token) under the "
    "corpus's empirical unigram model — the cheap perplexity-style quality "
    "signal for ranking/filtering training documents; term-probability join "
    "is hint-free shuffle (unbounded vocabulary), decimal-sum determinism",
    tags=("text", "quality", "scoring"),
)
def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TQ.unigram_surprisal(table(spark, sf_dir, "documents"), "doc_id", "text")


def _bm25_oracle() -> str:
    return f"""
    WITH tok AS (SELECT doc_id, unnest({_T}) AS term FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    g AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             ROUND({duck_portable_ln_ratio("2 * g.n_docs + 2", "2 * dfreq.df + 1")}
                   * (tf.tf * ({_BM25_K1} + 1))
                   / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / g.avgdl)), 6) AS score
      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN g),
    ranked AS (
      SELECT doc_id, term, tf, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      FROM scored)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score
    FROM ranked WHERE rk <= {_BM25_TOPK}
    """


@register(
    "q_bm25_top_terms",
    oracle=_bm25_oracle(),
    description="per-document top-3 BM25 terms (k1=1.2, b=0.75, +1 idf): tf saturation "
    "+ length normalization; shuffle join on term for the unbounded vocabulary "
    "(AQE may still broadcast small vocabularies at runtime), same plan shape as TF-IDF",
    tags=("text", "scoring"),
)
def q_bm25_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    k1, b = _BM25_K1, _BM25_B
    d = table(spark, sf_dir, "documents")
    tok = D.spread(d, "doc_id").select(
        F.col("doc_id"), F.explode(D.ws_tokens("text")).alias("term")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    g = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    # idf = ln((N - df + 0.5)/(df + 0.5) + 1) rewrites exactly to
    # ln((2N+2)/(2df+1)) — an integer ratio, so it rides the engine-portable
    # ratio log (libm ln is last-ulp divergent across engines).
    idf = _portable_ln_ratio(
        F.lit(2) * F.col("n_docs") + F.lit(2), F.lit(2) * F.col("df") + F.lit(1)
    )
    sat = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    # dfreq joins on term WITHOUT a broadcast hint: the vocabulary is
    # unbounded at corpus scale (a hard broadcast is a driver OOM at 100 TB);
    # AQE still converts to broadcast at runtime when it measures a small one.
    scored = (
        tf.join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(g))
        .withColumn("score", F.round(idf * sat, 6))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _BM25_TOPK)
        .select("doc_id", "term", F.col("tf").cast("bigint").alias("tf"), "score")
    )


@register(
    "q_dup_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_T} AS t FROM documents),
    pl AS (SELECT doc_id,
                  [{{'pos': i, 'fp': md5(array_to_string(t[i:i+2], ' '))}}
                   FOR i IN range(1, greatest(len(t) - 3, -1) + 2)] AS gs
           FROM toks WHERE len(t) >= 3),
    ps AS (SELECT doc_id, CAST(g.pos AS INTEGER) AS pos, g.fp AS fp
           FROM (SELECT doc_id, unnest(gs) AS g FROM pl)),
    dupfp AS (SELECT fp FROM ps GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2),
    dp AS (SELECT p.doc_id, p.pos, p.pos + 2 AS e FROM ps p JOIN dupfp USING (fp)),
    isl AS (
      SELECT doc_id, pos, e,
             CASE WHEN pos > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM dp),
    g AS (SELECT doc_id, pos, e,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS island FROM isl),
    sp AS (SELECT doc_id, island, MIN(pos) AS s, MAX(e) AS e FROM g GROUP BY doc_id, island)
    SELECT doc_id, COUNT(*) AS n_spans, CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
           array_to_string(list_transform(list_sort(list({{'s': s, 'e': e}})),
                           x -> CAST(x.s AS VARCHAR) || '-' || CAST(x.e AS VARCHAR)), '|') AS spans
    FROM sp GROUP BY doc_id
    """,
    description="exact substring-level dedup (Lee et al. 2022 semantics): maximal "
    "per-doc token spans whose every 3-gram recurs in another document — positional "
    "fingerprints + doc-frequency mark + gaps-and-islands span merge; two "
    "hash-shuffles, no suffix array. '|'-serialized span ranges.",
    tags=("dedup", "text", "spans"),
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.duplicated_spans(table(spark, sf_dir, "documents"), "doc_id", "text")


# shared bigram-LM CTE chain (q_bigram_logprob and the quantile-filter
# composite): ends with scored = (doc_id, n_bigrams, mean_logprob)
_BIGRAM_CTES = f"""toks AS (SELECT doc_id, {_T} AS t FROM documents),
    bg AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bigram
           FROM toks WHERE len(t) >= 2),
    tf AS (SELECT doc_id, bigram, COUNT(*) AS tf FROM bg GROUP BY doc_id, bigram),
    c12 AS (SELECT bigram, SUM(tf) AS c12 FROM tf GROUP BY bigram),
    c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
    model AS (SELECT bigram,
                     CAST(round({duck_portable_ln_ratio("c12", "c1")}, 6)
                          AS DECIMAL(18,6)) AS logp
              FROM c12 JOIN c1 ON split_part(c12.bigram, ' ', 1) = c1.w1),
    scored AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
             round(CAST(SUM(logp * tf) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE), 6) AS mean_logprob
      FROM tf JOIN model USING (bigram) GROUP BY doc_id)"""


@register(
    "q_bigram_logprob",
    oracle=f"""
    WITH {_BIGRAM_CTES}
    SELECT doc_id, n_bigrams, mean_logprob FROM scored
    """,
    description="per-document mean bigram log-probability under the corpus's "
    "empirical bigram LM — the KenLM/CCNet-style perplexity filter expressed "
    "relationally; map-side slice-zip bigrams, hint-free model join on the "
    "unbounded bigram key, decimal-sum determinism",
    tags=("text", "quality", "scoring"),
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TQ.bigram_logprob(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "q_stratified_sample",
    oracle="""
    WITH s AS (
      SELECT lang, doc_id, n_chars,
             ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1))
             / 256.0 AS u,
             CASE lang WHEN 'en' THEN 0.75 WHEN 'fr' THEN 0.5 WHEN 'de' THEN 0.25
                       ELSE 0.125 END AS p
      FROM documents)
    SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS first_doc,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS sampled_chars
    FROM s WHERE u < p GROUP BY lang
    """,
    description="stratified (per-language) content-hash Bernoulli sampling — "
    "the corpus-rebalancing / data-mixing primitive; keep-probability is a CASE "
    "over the stratum so the sampler is a single map-side filter, reproducible "
    "at any parallelism",
    tags=("sampling", "text"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.sampling import stratified_sample

    d = table(spark, sf_dir, "documents")
    sampled = stratified_sample(
        d, "lang", ["doc_id"], {"en": 0.75, "fr": 0.5, "de": 0.25}, default=0.125
    )
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("doc_id").alias("first_doc"),
        F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("bigint").alias("sampled_chars"),
    )


@register(
    "q_doc_chunks",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_T} AS t FROM documents),
    pl AS (SELECT doc_id,
                  [{{'start': i,
                     'chunk_text': array_to_string(t[i:i+31], ' '),
                     'n_tokens': least(len(t) - i + 1, 32)}}
                   FOR i IN range(1, greatest(len(t) - 31, 1) + 1, 24)] AS cs
           FROM toks),
    c AS (SELECT doc_id, unnest(cs) AS c FROM pl)
    SELECT doc_id,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c.start) AS chunk_id,
           c.start AS start, c.n_tokens AS n_tokens, c.chunk_text AS chunk_text
    FROM c
    """,
    description="sliding-window chunking (size 32, stride 24 — the RAG / "
    "long-context preprocessing step): map-side sequence+slice HOFs, one "
    "explode, embarrassingly parallel",
    tags=("text", "chunking"),
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TQ.chunk_documents(
        table(spark, sf_dir, "documents"), "doc_id", "text", size=32, stride=24
    )


@register(
    "q_pack_sequences",
    oracle=f"""
    WITH toks AS (SELECT source, doc_id, {_T} AS t FROM documents),
    d AS (SELECT source, doc_id, len(t) AS n FROM toks),
    c AS (SELECT source, doc_id, n,
                 COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
          FROM d)
    SELECT source, CAST(FLOOR(prev / 512) AS BIGINT) AS bin,
           COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS tokens,
           ROUND(CAST(SUM(n) AS DOUBLE) / 512.0, 6) AS fill,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM c GROUP BY source, bin
    """,
    description="concatenate-and-split sequence packing (budget 512 tokens, "
    "GPT-style training prep) sharded per source — packing is sequential by "
    "design, so the cumsum window runs per shard, never globally; bin id is "
    "floor(exclusive-prefix-sum / budget), no iteration",
    tags=("text", "packing"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TQ.pack_sequences(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        budget=512, partition_col="source",
    )


@register(
    "q_lm_quantile_filter",
    oracle=f"""
    WITH {_BIGRAM_CTES},
    j AS (SELECT d.lang, s.doc_id, s.mean_logprob
          FROM scored s JOIN documents d USING (doc_id)),
    r AS (SELECT lang, doc_id, mean_logprob,
                 PERCENT_RANK() OVER (PARTITION BY lang
                                      ORDER BY mean_logprob, doc_id) AS pr
          FROM j)
    SELECT lang, COUNT(*) AS n_kept,
           ROUND(MIN(mean_logprob), 6) AS min_lp, ROUND(MAX(mean_logprob), 6) AS max_lp,
           MIN(doc_id) AS first_doc
    FROM r WHERE pr >= 0.25 AND pr <= 0.75 GROUP BY lang
    """,
    description="perplexity-band quality filter (CCNet-style middle bucket): "
    "keep documents between the 25th and 75th percent-rank of bigram LM score "
    "per language — composite of the bigram scorer and a windowed rank; "
    "deterministic via (score, doc_id) total order",
    tags=("text", "quality", "composite"),
)
def q_lm_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    scored = TQ.bigram_logprob(docs, "doc_id", "text")
    j = scored.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy("mean_logprob", "doc_id")
    r = j.withColumn("pr", F.percent_rank().over(w))
    return (
        r.where((F.col("pr") >= 0.25) & (F.col("pr") <= 0.75))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.min("mean_logprob"), 6).alias("min_lp"),
            F.round(F.max("mean_logprob"), 6).alias("max_lp"),
            F.min("doc_id").alias("first_doc"),
        )
    )


def _cm_bucket_sql(expr: str, row: int, width: int = 256) -> str:
    md5 = f"md5('{row}:' || {expr})"
    return (f"(((strpos('0123456789abcdef', substr({md5}, 1, 1)) - 1) * 16"
            f" + (strpos('0123456789abcdef', substr({md5}, 2, 1)) - 1)) % {width})")


def _count_min_oracle(width: int = 256) -> str:
    rb = " UNION ALL ".join(
        f"SELECT {r} AS row, {_cm_bucket_sql('token', r, width)} AS bucket FROM tok"
        for r in range(COUNT_MIN_DEPTH)
    )
    probes = " UNION ALL ".join(
        f"SELECT token, exact, rk, {r} AS row, "
        f"{_cm_bucket_sql('token', r, width)} AS bucket FROM top"
        for r in range(COUNT_MIN_DEPTH)
    )
    return f"""
    WITH tok AS (SELECT unnest({_T}) AS token FROM documents),
    rb AS ({rb}),
    sketch AS (SELECT row, bucket, COUNT(*) AS cnt FROM rb GROUP BY row, bucket),
    exact AS (SELECT token, COUNT(*) AS exact FROM tok GROUP BY token),
    top AS (SELECT token, exact, rk FROM (
              SELECT token, exact,
                     ROW_NUMBER() OVER (ORDER BY exact DESC, token) AS rk
              FROM exact) WHERE rk <= {_CM_TOPK}),
    probes AS ({probes})
    SELECT rk, token, CAST(exact AS BIGINT) AS exact,
           CAST(MIN(cnt) AS BIGINT) AS cm_estimate,
           CAST(MIN(cnt) - exact AS BIGINT) AS overestimate
    FROM probes JOIN sketch USING (row, bucket)
    GROUP BY rk, token, exact
    """


@register(
    "q_count_min",
    oracle=_count_min_oracle(),
    description="count-min sketch frequency estimation (Cormode-Muthukrishnan): "
    "4x256 counter table built in one exact mergeable aggregation (bounded "
    "memory at any corpus size), probed for the top-20 tokens — estimate is "
    "min over rows, one-sided overestimate reported; md5-bucket hashing is "
    "bit-identical across engines",
    tags=("text", "sketch", "stats"),
)
def q_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.stats import count_min_estimates

    return count_min_estimates(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        width=256, topk=_CM_TOPK,
    )


# Candidate customer-name pairs sharing a deletion-1 variant (each name and
# every string with one character removed).
_NAME_VARIANT_PAIRS_DUCK = """vocab AS (SELECT DISTINCT c_name AS token FROM customer),
    variants AS (
      SELECT token, unnest([token] ||
             [substr(token, 1, i - 1) || substr(token, i + 1, len(token))
              FOR i IN range(1, len(token) + 1)]) AS variant
      FROM vocab),
    v AS (SELECT DISTINCT token, variant FROM variants),
    cands AS (
      SELECT DISTINCT a.token AS tok_a, b.token AS tok_b
      FROM v a JOIN v b ON a.variant = b.variant AND a.token < b.token)"""


@register(
    "q_fuzzy_token_join",
    oracle="""
    WITH """ + _NAME_VARIANT_PAIRS_DUCK + """
    SELECT tok_a, tok_b, levenshtein(tok_a, tok_b) AS dist
    FROM cands WHERE levenshtein(tok_a, tok_b) <= 1
    """,
    description="fuzzy self-join on customer names at edit distance <= 1 via "
    "deletion-neighborhood blocking (the spell-join / entity-resolution "
    "primitive): each string emits itself + its 1-deletion variants map-side, "
    "candidates share a variant key, verified with levenshtein — candidate "
    "generation is O(n x len), never the O(n^2) all-pairs distance matrix",
    tags=("text", "fuzzy", "join"),
)
def q_fuzzy_token_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.fuzzy_pairs_dist1(table(spark, sf_dir, "customer"), "c_custkey", "c_name")


@register(
    "q_fuzzy_damerau",
    oracle="""
    WITH vocab AS (SELECT DISTINCT c_name AS token FROM customer),
    variants AS (
      SELECT token, unnest(list_distinct([token] ||
             [substr(token, 1, i - 1) || substr(token, i + 1, len(token))
              FOR i IN range(1, len(token) + 1)])) AS variant
      FROM vocab),
    cands AS (
      SELECT DISTINCT a.token AS tok_a, b.token AS tok_b
      FROM variants a JOIN variants b ON a.variant = b.variant AND a.token < b.token)
    SELECT tok_a, tok_b, damerau_levenshtein(tok_a, tok_b) AS dist
    FROM cands WHERE damerau_levenshtein(tok_a, tok_b) <= 1
    """,
    description="Damerau distance-1 fuzzy join (adjacent transpositions count "
    "as one edit — the most common typo class): same deletion-neighborhood "
    "blocking; Spark lacks a damerau builtin, so the transposition predicate "
    "is composed from char-array HOFs (two adjacent cross-equal diffs) — "
    "pure Catalyst, verified against DuckDB's native damerau_levenshtein",
    tags=("text", "fuzzy", "join"),
)
def q_fuzzy_damerau(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.fuzzy_pairs_damerau1(table(spark, sf_dir, "customer"), "c_custkey", "c_name")


@register(
    "q_inverted_index",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest(list_distinct({_T})) AS term FROM documents)
    SELECT term, COUNT(*) AS df,
           array_to_string(list_sort(list(doc_id))[1:100], '|') AS postings_head
    FROM toks GROUP BY term HAVING COUNT(*) >= 5
    """,
    description="inverted-index construction (search-index build, the Spark "
    "twin of the reference's search index emit — SearchIndex outputs, "
    "steps/search.py): term -> document frequency + head of the sorted "
    "posting list (capped at 100 ids so a stop-word term cannot produce an "
    "unbounded row). Map-side distinct-per-doc explode, one term-keyed "
    "aggregation. '|'-serialized output (canonicalizer-proof contract).",
    tags=("text", "search", "index"),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.trim("text"), " +"))).alias("term"),
    )
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.concat_ws(
                "|",
                F.transform(
                    F.slice(F.sort_array(F.collect_list("doc_id")), 1, 100),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings_head"),
        )
        .where(F.col("df") >= 5)
    )


# Within-document term co-occurrence: distinct terms per document (toks),
# the document count (n), term document frequencies (dfw) and pair document
# frequencies (pairs).
_COOCCUR_DUCK = f"""
    WITH toks AS (SELECT doc_id, unnest(list_distinct({_T})) AS term FROM documents),
    n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
    dfw AS (SELECT term, COUNT(*) AS df FROM toks GROUP BY term),
    pairs AS (SELECT a.term AS t1, b.term AS t2, COUNT(*) AS df_pair
              FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.term < b.term
              GROUP BY 1, 2)
"""


def _cooccurring_pairs(spark: SparkSession, sf_dir: str, min_df_pair: int) -> DataFrame:
    """Term pairs ``t1 < t2`` sharing at least ``min_df_pair`` documents, with
    their pair document frequency ``df_pair``, marginal frequencies ``df1``
    and ``df2``, and the document count ``nd``."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.trim("text"), " +"))).alias("term"),
    )
    nd = d.select(F.count_distinct("doc_id").alias("nd"))
    dfw = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    a = toks.alias("a")
    b = toks.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.term") < F.col("b.term")))
        .groupBy(F.col("a.term").alias("t1"), F.col("b.term").alias("t2"))
        .agg(F.count(F.lit(1)).alias("df_pair"))
        .where(F.col("df_pair") >= min_df_pair)
    )
    d1 = dfw.select(F.col("term").alias("t1"), F.col("df").alias("df1"))
    d2 = dfw.select(F.col("term").alias("t2"), F.col("df").alias("df2"))
    return (
        pairs.join(F.broadcast(d1), "t1")
        .join(F.broadcast(d2), "t2")
        .crossJoin(F.broadcast(nd))  # 1-row scalar frame
    )


_PMI_LN = duck_portable_ln_ratio("df_pair * n.nd", "d1.df * d2.df")


@register(
    "q_pmi_cooccur",
    oracle=_COOCCUR_DUCK + f"""
    SELECT t1, t2, df_pair,
           ROUND({_PMI_LN}, 6) AS pmi
    FROM pairs JOIN dfw d1 ON t1 = d1.term JOIN dfw d2 ON t2 = d2.term, n
    WHERE df_pair >= 5
    """,
    description="pointwise mutual information over within-document term "
    "co-occurrence (document-frequency formulation): distinct-per-doc "
    "tokens self-joined on doc_id with t1 < t2, pair counts vs marginal "
    "dfs. The pair fan-out is quadratic in per-doc DISTINCT vocabulary "
    "(bounded by doc length, not corpus size), marginals broadcast back. "
    "Integer products inside a single ln() keep the doubles engine-identical.",
    tags=("text", "stats", "cooccurrence"),
)
def q_pmi_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _cooccurring_pairs(spark, sf_dir, 5)
        .select(
            "t1", "t2", "df_pair",
            # integer-ratio log via the engine-portable ln (libm ln is
            # 1-ulp divergent across engines; see functions/portable_math)
            F.round(
                _portable_ln_ratio(
                    F.col("df_pair") * F.col("nd"), F.col("df1") * F.col("df2")
                ),
                6,
            ).alias("pmi"),
        )
    )


@register(
    "q_source_mix_weights",
    oracle="""
    WITH s AS (SELECT source, COUNT(*) AS n,
                      COUNT(DISTINCT md5(trim(text))) AS n_uniq
               FROM documents GROUP BY source),
    t AS (SELECT CAST(SUM(n * n) AS BIGINT) AS s2, CAST(SUM(n) AS BIGINT) AS nt FROM s)
    SELECT source, n AS n_docs,
           ROUND(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS share,
           ROUND(CAST(n * n AS DOUBLE) / CAST(s2 AS DOUBLE), 6) AS weight_t05,
           ROUND(1.0 - CAST(n_uniq AS DOUBLE) / CAST(n AS DOUBLE), 6) AS dup_ratio
    FROM s, t
    """,
    description="training-mixture reweighting per source: natural share, "
    "temperature-scaled sampling weight at tau=0.5 (w proportional to "
    "share^(1/tau) = share^2, computed as exact integer n^2 ratios so the "
    "normalization is engine-identical without pow()), and per-source "
    "duplication ratio (1 - distinct fingerprints / docs) as the mixture "
    "quality signal. One source-keyed aggregation + a 1-row scalar frame.",
    tags=("text", "sampling", "mixture"),
)
def q_source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.md5(F.trim("text"))).alias("n_uniq"),
    )
    t = s.agg(
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("s2"),
        F.sum("n").cast("bigint").alias("nt"),
    )
    return s.crossJoin(F.broadcast(t)).select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(F.col("n").cast("double") / F.col("nt").cast("double"), 6).alias("share"),
        F.round(
            (F.col("n") * F.col("n")).cast("double") / F.col("s2").cast("double"), 6
        ).alias("weight_t05"),
        F.round(
            F.lit(1.0) - F.col("n_uniq").cast("double") / F.col("n").cast("double"), 6
        ).alias("dup_ratio"),
    )


_ENT_LN = duck_portable_ln_ratio("t.tot", "c.c")


@register(
    "q_entropy_by_source",
    oracle=f"""
    WITH toks AS (SELECT source, unnest({_T}) AS term FROM documents),
    c AS (SELECT source, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    t AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot, COUNT(*) AS n_terms FROM c GROUP BY source)
    SELECT c.source, MAX(t.n_terms) AS n_terms,
           ROUND(CAST(SUM(CAST(ROUND({_ENT_LN}
                                     * (CAST(c.c AS DOUBLE) / CAST(t.tot AS DOUBLE)), 9)
                               AS DECIMAL(18,9))) AS DOUBLE), 6) AS entropy
    FROM c JOIN t ON c.source = t.source GROUP BY c.source
    """,
    description="Shannon entropy of the term distribution per source (the "
    "lexical-diversity / template-detection quality signal: boilerplate "
    "sources score low): per-term contributions -p*ln(p) are rounded to 9 dp "
    "in double (identical on both engines) then summed as DECIMAL so "
    "distributed order cannot change the sum — the same decimal-contribution "
    "convention as unigram surprisal; totals broadcast back onto term counts",
    tags=("text", "stats", "quality"),
)
def q_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split(F.trim("text"), " +")).alias("term"))
    c = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    t = c.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("tot"), F.count(F.lit(1)).alias("n_terms")
    )
    # -p*ln(p) = ln(tot/c) * (c/tot): an integer-ratio log, so it rides
    # the engine-portable ln (libm ln is 1-ulp divergent across engines)
    p = F.col("c").cast("double") / F.col("tot").cast("double")
    contrib = F.round(
        _portable_ln_ratio(F.col("tot"), F.col("c")) * p, 9
    ).cast("decimal(18,9)")
    return (
        c.join(F.broadcast(t), "source")
        .groupBy("source")
        .agg(
            F.max("n_terms").alias("n_terms"),
            F.round(F.sum(contrib).cast("double"), 6).alias("entropy"),
        )
    )


_TRI_LOGP = duck_portable_ln_ratio("c123", "c12")
_BO_LOGP = duck_portable_ln_ratio("c23", "c2")
_LN04 = "-0.916290731874155"  # repr(math.log(0.4)) — shared double literal


@register(
    "q_stupid_backoff",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_T} AS t FROM documents),
    tg AS (SELECT doc_id,
                  unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                          FOR i IN range(1, len(t) - 1)]) AS trigram
           FROM toks WHERE len(t) >= 3),
    bg AS (SELECT unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bigram
           FROM toks WHERE len(t) >= 2),
    c123 AS (SELECT trigram, COUNT(*) AS c123 FROM tg GROUP BY trigram),
    c12 AS (SELECT split_part(trigram, ' ', 1) || ' ' || split_part(trigram, ' ', 2)
                       AS ctx12,
                   SUM(c123) AS c12
            FROM c123 GROUP BY 1),
    tri_model AS (
      SELECT trigram,
             CAST(round({_TRI_LOGP}, 6) AS DECIMAL(18,6)) AS tri_logp
      FROM c123 JOIN c12
        ON split_part(c123.trigram, ' ', 1) || ' ' || split_part(c123.trigram, ' ', 2)
           = c12.ctx12
      WHERE c123 >= 2),
    c23 AS (SELECT bigram, COUNT(*) AS c23 FROM bg GROUP BY bigram),
    c2 AS (SELECT split_part(bigram, ' ', 1) AS w2, SUM(c23) AS c2 FROM c23 GROUP BY w2),
    bi_model AS (
      SELECT bigram,
             CAST(round({_LN04} + {_BO_LOGP}, 6) AS DECIMAL(18,6)) AS bo_logp
      FROM c23 JOIN c2 ON split_part(c23.bigram, ' ', 1) = c2.w2),
    tf AS (SELECT doc_id, trigram, COUNT(*) AS tf FROM tg GROUP BY doc_id, trigram),
    scored AS (
      SELECT tf.doc_id, tf.tf,
             COALESCE(m.tri_logp, b.bo_logp) AS logp,
             CASE WHEN m.tri_logp IS NULL THEN tf.tf ELSE 0 END AS nbo
      FROM tf
      LEFT JOIN tri_model m ON tf.trigram = m.trigram
      JOIN bi_model b
        ON split_part(tf.trigram, ' ', 2) || ' ' || split_part(tf.trigram, ' ', 3)
           = b.bigram),
    agg AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
             CAST(SUM(nbo) AS BIGINT) AS n_backoff,
             CAST(SUM(logp * tf) * 1000000 AS BIGINT) AS s_micro
      FROM scored GROUP BY doc_id)
    SELECT doc_id, n_trigrams, n_backoff,
           CAST(CASE WHEN s_micro < 0
                     THEN -((2 * (-s_micro) + n_trigrams) // (2 * n_trigrams))
                     ELSE (2 * s_micro + n_trigrams) // (2 * n_trigrams) END
                AS BIGINT) AS mean_score_micro
    FROM agg
    """,
    description="Stupid Backoff trigram scoring (Brants et al. 2007): "
    "count-pruned corpus trigram model (c >= 2) with alpha=0.4 backoff to the "
    "bigram model — pruning is what makes backoff fire on real singleton-heavy "
    "corpora. Map-side slice-zip n-grams, hint-free model joins on the "
    "unbounded ngram keys, per-trigram ln rounded then decimal-summed",
    tags=("text", "quality", "scoring"),
)
def q_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TQ.stupid_backoff_logprob(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )


@register(
    "q_prefix_jaccard",
    oracle=_JACCARD_PAIRS_DUCK,
    description="EXACT n-gram Jaccard pairs via prefix filtering "
    "(AllPairs/PPJoin): rarest-first global shingle order, candidates only "
    "from each document's (n - ceil(t*n) + 1)-prefix — mathematically "
    "lossless at the threshold, so the oracle is the same brute-force "
    "formulation as q_ngram_jaccard; the exact scale path between the "
    "quadratic baseline and approximate MinHash+LSH (hot shingles are "
    "excluded from candidate generation wherever they fall outside a prefix)",
    tags=("dedup", "text", "prefix-filter"),
)
def q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.prefix_filtered_jaccard_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", k=3
    )


@register(
    "q_assoc_rules",
    oracle=_COOCCUR_DUCK + f"""
    SELECT t1 AS antecedent, t2 AS consequent, df_pair AS support_n,
           ROUND(CAST(df_pair AS DOUBLE) / (SELECT nd FROM n), 6) AS support,
           ROUND(CAST(df_pair AS DOUBLE) / d1.df, 6) AS confidence,
           ROUND(CAST(df_pair * (SELECT nd FROM n) AS DOUBLE)
                 / CAST(d1.df * d2.df AS DOUBLE), 6) AS lift
    FROM pairs JOIN dfw d1 ON t1 = d1.term JOIN dfw d2 ON t2 = d2.term
    WHERE df_pair >= 10 AND CAST(df_pair AS DOUBLE) / d1.df >= 0.5
    """,
    description="association-rule mining over within-document term itemsets "
    "(market-basket support/confidence/lift at min_support=10, "
    "min_confidence=0.5): same distinct-pair co-occurrence frame as PMI but "
    "with PURE integer-ratio metrics — no transcendental at all, so no "
    "portability scaffolding needed; marginals broadcast onto the pair frame",
    tags=("text", "stats", "rules"),
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _cooccurring_pairs(spark, sf_dir, 10)
        .where(F.col("df_pair").cast("double") / F.col("df1") >= 0.5)
        .select(
            F.col("t1").alias("antecedent"),
            F.col("t2").alias("consequent"),
            F.col("df_pair").alias("support_n"),
            F.round(F.col("df_pair").cast("double") / F.col("nd"), 6).alias("support"),
            F.round(F.col("df_pair").cast("double") / F.col("df1"), 6).alias("confidence"),
            F.round(
                (F.col("df_pair") * F.col("nd")).cast("double")
                / (F.col("df1") * F.col("df2")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


@register(
    "q_dedup_keep_best",
    oracle="""
    WITH g AS (SELECT doc_id, n_chars, md5(trim(text)) AS fp FROM documents),
    ranked AS (
      SELECT doc_id, n_chars, fp,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY fp) AS n_members
      FROM g)
    SELECT fp, CAST(n_members AS BIGINT) AS n_members,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
           array_to_string(list_sort(list(doc_id) FILTER (WHERE rn > 1)), '|') AS dropped
    FROM ranked WHERE n_members > 1 GROUP BY fp, n_members
    """,
    description="dedup with a canonical-selection POLICY (keep the "
    "highest-quality member — here longest text, doc_id tiebreak — instead "
    "of an arbitrary survivor): fingerprint groups + one window rank; the "
    "decision step every production dedup pipeline actually needs after "
    "cluster formation. '|'-serialized dropped list (canonicalizer-proof).",
    tags=("dedup", "text", "policy"),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    g = d.select("doc_id", "n_chars", F.md5(F.trim("text")).alias("fp"))
    w = Window.partitionBy("fp").orderBy(F.desc("n_chars"), "doc_id")
    wn = Window.partitionBy("fp")
    ranked = g.select(
        "doc_id", "fp",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_members"),
    ).where(F.col("n_members") > 1)
    return ranked.groupBy("fp", F.col("n_members").cast("bigint").alias("n_members")).agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("kept_doc"),
        F.concat_ws(
            "|",
            F.transform(
                F.sort_array(F.collect_list(F.when(F.col("rn") > 1, F.col("doc_id")))),
                lambda x: x.cast("string"),
            ),
        ).alias("dropped"),
    )


_RAG_QUERIES = [
    ("q1", ["spark", "join"]),
    ("q2", ["customer", "filter"]),
    ("q3", ["window", "sort", "merge"]),
]
_RAG_SIZE, _RAG_STRIDE, _RAG_K1, _RAG_B, _RAG_TOPK = 32, 24, 1.2, 0.75, 3
# BM25 idf = ln((N - df + 0.5)/(df + 0.5) + 1) = ln((2N+2)/(2df+1)) — an
# integer ratio, so it rides the engine-portable ln.
_RAG_IDF = duck_portable_ln_ratio("2 * g.n_chunks + 2", "2 * dfreq.df + 1")


def _rag_oracle() -> str:
    qvals = ", ".join(
        f"('{qid}', '{t}')" for qid, terms in _RAG_QUERIES for t in terms
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_T} AS t FROM documents),
    chunks AS (
      SELECT doc_id,
             unnest([array_to_string(t[s:s+{_RAG_SIZE - 1}], ' ')
                     FOR s IN range(1, greatest(len(t) - {_RAG_SIZE - 1}, 1) + 1, {_RAG_STRIDE})])
                 AS chunk_text,
             generate_subscripts([s FOR s IN range(1, greatest(len(t) - {_RAG_SIZE - 1}, 1) + 1, {_RAG_STRIDE})], 1)
                 AS chunk_id
      FROM toks WHERE len(t) >= 1),
    ctok AS (SELECT doc_id, chunk_id, unnest(string_split_regex(chunk_text, ' +')) AS term
             FROM chunks),
    dl AS (SELECT doc_id, chunk_id, COUNT(*) AS dl FROM ctok GROUP BY 1, 2),
    tf AS (SELECT doc_id, chunk_id, term, COUNT(*) AS tf FROM ctok GROUP BY 1, 2, 3),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    g AS (SELECT COUNT(*) AS n_chunks, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    q(query_id, term) AS (VALUES {qvals}),
    scored AS (
      SELECT q.query_id, tf.doc_id, tf.chunk_id,
             CAST(ROUND({_RAG_IDF}
                        * (tf.tf * ({_RAG_K1} + 1))
                        / (tf.tf + {_RAG_K1} * (1 - {_RAG_B} + {_RAG_B} * dl.dl / g.avgdl)),
                        6) AS DECIMAL(18,6)) AS tscore
      FROM q JOIN tf USING (term)
             JOIN dfreq ON tf.term = dfreq.term
             JOIN dl ON tf.doc_id = dl.doc_id AND tf.chunk_id = dl.chunk_id
             CROSS JOIN g),
    agg AS (SELECT query_id, doc_id, chunk_id,
                   CAST(SUM(tscore) AS DOUBLE) AS score
            FROM scored GROUP BY 1, 2, 3),
    ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY score DESC, doc_id, chunk_id) AS BIGINT) AS rank
               FROM agg)
    SELECT query_id, rank, doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, ROUND(score, 6) AS score
    FROM ranked WHERE rank <= {_RAG_TOPK}
    """


@register(
    "q_rag_retrieve",
    oracle=_rag_oracle(),
    description="end-to-end RAG retrieval composite: sliding-window chunking "
    "(map-side HOFs) -> per-chunk BM25 scoring against a fixed query set -> "
    "top-3 chunks per query. The BM25 idf rewrites to ln((2N+2)/(2df+1)) — "
    "an integer ratio — so it rides the engine-portable ln; per-term scores "
    "are decimal-summed per chunk. Query terms broadcast; the chunk "
    "vocabulary join stays hint-free; final top-k is a per-query window",
    tags=("text", "rag", "composite", "scoring"),
)
def q_rag_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from platform_etl_backend_spark.functions.portable_math import portable_ln_ratio

    d = table(spark, sf_dir, "documents")
    chunks = TQ.chunk_documents(d, "doc_id", "text", size=_RAG_SIZE, stride=_RAG_STRIDE)
    ctok = chunks.select(
        "doc_id", "chunk_id",
        F.explode(F.split(F.col("chunk_text"), " +")).alias("term"),
    )
    dl = ctok.groupBy("doc_id", "chunk_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = ctok.groupBy("doc_id", "chunk_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    g = dl.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    q = spark.createDataFrame(
        [(qid, t) for qid, terms in _RAG_QUERIES for t in terms],
        "query_id string, term string",
    )
    idf = portable_ln_ratio(
        2 * F.col("n_chunks") + 2, 2 * F.col("df") + 1
    )
    sat = (F.col("tf") * (_RAG_K1 + 1)) / (
        F.col("tf") + _RAG_K1 * (1 - _RAG_B + _RAG_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        F.broadcast(q).join(tf, "term")
        .join(dfreq, "term")
        .join(dl, ["doc_id", "chunk_id"])
        .crossJoin(F.broadcast(g))
        .select(
            "query_id", "doc_id", "chunk_id",
            F.round(idf * sat, 6).cast("decimal(18,6)").alias("tscore"),
        )
    )
    agg = scored.groupBy("query_id", "doc_id", "chunk_id").agg(
        F.sum("tscore").cast("double").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id", "chunk_id")
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= _RAG_TOPK)
        .select(
            "query_id", "rank", "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.round("score", 6).alias("score"),
        )
    )


_ES_LN = duck_portable_ln_ratio(str(2**48), "h + 1")


@register(
    "q_weighted_sample",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, n_chars,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
      FROM documents),
    keyed AS (
      SELECT doc_id, n_chars, {_ES_LN} / CAST(n_chars AS DOUBLE) AS k
      FROM hashed)
    SELECT doc_id, n_chars FROM keyed ORDER BY k, doc_id LIMIT 50
    """,
    description="deterministic weighted sample without replacement "
    "(Efraimidis-Spirakis A-ES order sampling, weight = document length): "
    "u from 48 bits of the content hash, key = -ln(u)/w via the "
    "engine-portable ratio log, bottom-50 keys — plans as "
    "TakeOrderedAndProject (per-partition bottom-k + driver merge, no "
    "global sort), reproducible at any parallelism, NO RNG anywhere",
    tags=("sampling", "text"),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.sampling import weighted_bottomk_sample

    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_bottomk_sample(d, ["doc_id"], "n_chars", k=50)


_KL_LN = duck_portable_ln_ratio("c.c * g.tt", "t.tot * w.cw")


@register(
    "q_kl_divergence",
    oracle=f"""
    WITH toks AS (SELECT source, unnest({_T}) AS term FROM documents),
    c AS (SELECT source, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    t AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM c GROUP BY source),
    w AS (SELECT term, CAST(SUM(c) AS BIGINT) AS cw FROM c GROUP BY term),
    g AS (SELECT CAST(SUM(c) AS BIGINT) AS tt FROM c)
    SELECT c.source,
           ROUND(CAST(SUM(CAST(ROUND({_KL_LN}
                                     * (CAST(c.c AS DOUBLE) / CAST(t.tot AS DOUBLE)), 9)
                               AS DECIMAL(18,9))) AS DOUBLE), 6) AS kl_nats
    FROM c JOIN t ON c.source = t.source JOIN w ON c.term = w.term, g
    GROUP BY c.source
    """,
    description="per-source KL divergence from the corpus term distribution "
    "(the distribution-drift audit: which source's language deviates most — "
    "template detection, contamination screening, mixture monitoring): "
    "KL(p_src||p_corpus) with the log of the exact integer ratio "
    "(c_st*T)/(T_s*c_t) riding the engine-portable ln, contributions "
    "rounded then decimal-summed; marginals broadcast onto the per-source "
    "term counts — one term-keyed aggregation total",
    tags=("text", "stats", "drift"),
)
def q_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split(F.trim("text"), " +")).alias("term"))
    c = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    t = c.groupBy("source").agg(F.sum("c").cast("bigint").alias("tot"))
    w = c.groupBy("term").agg(F.sum("c").cast("bigint").alias("cw"))
    g = c.agg(F.sum("c").cast("bigint").alias("tt"))
    p_s = F.col("c").cast("double") / F.col("tot").cast("double")
    contrib = F.round(
        _portable_ln_ratio(F.col("c") * F.col("tt"), F.col("tot") * F.col("cw")) * p_s,
        9,
    ).cast("decimal(18,9)")
    return (
        c.join(F.broadcast(t), "source")
        .join(F.broadcast(w), "term")
        .crossJoin(F.broadcast(g))
        .groupBy("source")
        .agg(F.round(F.sum(contrib).cast("double"), 6).alias("kl_nats"))
    )


@register(
    "q_count_min_narrow",
    oracle=_count_min_oracle(width=16),
    description="count-min sketch at a deliberately narrow width (4x16): "
    "the e/w error knob made visible — same exact mergeable aggregation, "
    "heavy bucket collisions, so estimates OVERSHOOT true counts where the "
    "4x256 config (q_count_min) tracks them closely; the paired pytest pins "
    "estimate >= exact for both configs and a larger total overestimate "
    "here (the trade a 100 TB deployment tunes: width*depth counters vs "
    "one-sided error e/w per hash row)",
    tags=("text", "sketch", "stats"),
)
def q_count_min_narrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.stats import count_min_estimates

    return count_min_estimates(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        width=16, topk=_CM_TOPK,
    )


# Jelinek-Mercer at lambda=1/2: p = (c12/c1 + c2/T)/2 = (c12*T + c2*c1) /
# (2*c1*T) — an exact integer ratio, so ln(p) rides the portable ratio log
# (no arbitrary-double ln needed).
_JM_LN = duck_portable_ln_ratio(
    "tf.c12 * g.tt + c2r.c2 * c1l.c1", "2 * c1l.c1 * g.tt"
)


@register(
    "q_interp_lm",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_T} AS t FROM documents),
    bg AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bigram
           FROM toks WHERE len(t) >= 2),
    dtf AS (SELECT doc_id, bigram, COUNT(*) AS tf FROM bg GROUP BY doc_id, bigram),
    tf AS (SELECT bigram, CAST(SUM(tf) AS BIGINT) AS c12 FROM dtf GROUP BY bigram),
    c1l AS (SELECT split_part(bigram, ' ', 1) AS w1, CAST(SUM(c12) AS BIGINT) AS c1
            FROM tf GROUP BY w1),
    uni AS (SELECT doc_id, unnest(t) AS term FROM toks),
    c2r AS (SELECT term AS w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM uni GROUP BY term),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM uni),
    model AS (
      SELECT tf.bigram,
             CAST(round({_JM_LN}, 6) AS DECIMAL(18,6)) AS logp
      FROM tf
      JOIN c1l ON split_part(tf.bigram, ' ', 1) = c1l.w1
      JOIN c2r ON split_part(tf.bigram, ' ', 2) = c2r.w2, g),
    agg AS (
      SELECT d.doc_id, CAST(SUM(d.tf) AS BIGINT) AS n_bigrams,
             CAST(SUM(m.logp * d.tf) * 1000000 AS BIGINT) AS s_micro
      FROM dtf d JOIN model m USING (bigram) GROUP BY d.doc_id)
    SELECT doc_id, n_bigrams,
           CAST(CASE WHEN s_micro < 0
                     THEN -((2 * (-s_micro) + n_bigrams) // (2 * n_bigrams))
                     ELSE (2 * s_micro + n_bigrams) // (2 * n_bigrams) END
                AS BIGINT) AS mean_logp_micro
    FROM agg
    """,
    description="Jelinek-Mercer interpolated bigram LM scoring (lambda=1/2): "
    "p = (P_bigram + P_unigram)/2 — at this lambda the interpolated "
    "probability is the exact integer ratio (c12*T + c2*c1)/(2*c1*T), so "
    "the whole log-score rides the engine-portable ratio ln; the smoothing "
    "family's third member beside raw-bigram and Stupid-Backoff scoring. "
    "Mean emitted in integer micro-nats (tie-portable rounding pattern)",
    tags=("text", "quality", "scoring"),
)
def q_interp_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = D.ws_tokens("text")
    n2 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n2), F.slice(toks, 2, n2),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    base = D.spread(d, "doc_id")
    bg = base.where(F.size(toks) >= 2).select(
        "doc_id", F.explode(bigrams).alias("bigram")
    )
    dtf = bg.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("tf"))
    tf = dtf.groupBy("bigram").agg(F.sum("tf").cast("bigint").alias("c12"))
    c1l = tf.groupBy(F.substring_index("bigram", " ", 1).alias("w1")).agg(
        F.sum("c12").cast("bigint").alias("c1")
    )
    uni = base.select("doc_id", F.explode(toks).alias("term"))
    c2r = uni.groupBy(F.col("term").alias("w2")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c2")
    )
    g = uni.agg(F.count(F.lit(1)).cast("bigint").alias("tt"))
    model = (
        tf.withColumn("w1", F.substring_index("bigram", " ", 1))
        .withColumn("w2", F.substring_index("bigram", " ", -1))
        .join(c1l, "w1")
        .join(c2r, "w2")
        .crossJoin(F.broadcast(g))
        .select(
            "bigram",
            F.round(
                _portable_ln_ratio(
                    F.col("c12") * F.col("tt") + F.col("c2") * F.col("c1"),
                    F.lit(2) * F.col("c1") * F.col("tt"),
                ),
                6,
            ).cast("decimal(18,6)").alias("logp"),
        )
    )
    agg = (
        dtf.join(model, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            (F.sum(F.col("logp") * F.col("tf")) * 1000000)
            .cast("bigint")
            .alias("s_micro"),
        )
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        F.expr(
            "CASE WHEN s_micro < 0 "
            "THEN -((2 * (-s_micro) + n_bigrams) div (2 * n_bigrams)) "
            "ELSE (2 * s_micro + n_bigrams) div (2 * n_bigrams) END"
        ).cast("bigint").alias("mean_logp_micro"),
    )


# ---------------------------------------------------------------------------
# Sentence segmentation over a punctuated synthetic column (the corpus's
# text has no punctuation — backlog #3): both engines derive the IDENTICAL
# punctuated string from documents.text (fixed tricky preamble + periodic
# punctuation by token position), then run the same protect-mark-split
# boundary chain. Regexes stay in the Java-regex ∩ RE2 subset.
# ---------------------------------------------------------------------------

_SENT_PREAMBLE = 'Dr. Smith paid $12.50 on Jan. 5 and said "Stop!" Then we left.'
_ABBR_ALT = "|".join(TQ.SENTENCE_ABBREVIATIONS)
# literal \x01/\x02 sentinels embedded directly in the SQL text
_P1, _P2 = chr(1), chr(2)

_SENT_ORACLE = f"""
    WITH toks AS (SELECT doc_id, {_T} AS t FROM documents),
    tt AS (SELECT doc_id, t[1:60] AS t FROM toks),
    body AS (SELECT doc_id,
      array_to_string([t[i] || CASE WHEN i % 21 = 0 THEN '?'
                                    WHEN i % 7 = 0 THEN '.'
                                    ELSE '' END
                       FOR i IN range(1, len(t) + 1)], ' ') AS b
      FROM tt),
    p AS (SELECT doc_id, '{_SENT_PREAMBLE} ' || b || '.' AS txt FROM body),
    seg AS (SELECT doc_id,
      string_split(
        regexp_replace(
          regexp_replace(
            regexp_replace(txt, '([0-9])\\.([0-9])', '\\1{_P1}\\2', 'g'),
            '\\b({_ABBR_ALT})\\.', '\\1{_P1}', 'g'),
          '([.!?]+["]?)[ ]+', '\\1{_P2}', 'g'),
        '{_P2}') AS ss
      FROM p),
    x AS (SELECT doc_id,
                 [{{'sid': i, 's': replace(ss[i], '{_P1}', '.')}}
                  FOR i IN range(1, len(ss) + 1)] AS xs
          FROM seg),
    u AS (SELECT doc_id, unnest(xs) AS u FROM x)
    SELECT doc_id, CAST(u.sid AS BIGINT) AS sent_id,
           CAST(len(string_split_regex(trim(u.s), ' +')) AS BIGINT) AS n_tokens,
           u.s AS sentence
    FROM u
"""


@register(
    "q_sentence_split",
    oracle=_SENT_ORACLE,
    description="punctuation/abbreviation-aware sentence segmentation over a "
    "punctuated synthetic column: decimals ($12.50), abbreviation LUT (Dr., "
    "Jan.), closing-quote boundaries — protect-mark-split chain, map-side "
    "only (no lookbehind: RE2-portable sentinel marking)",
    tags=("text", "segmentation"),
)
def q_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = F.slice(D.ws_tokens("text"), 1, 60)
    i1 = lambda i: i + 1  # noqa: E731 — transform index is 0-based
    punct = lambda i: (  # noqa: E731
        F.when(i1(i) % 21 == 0, "?").when(i1(i) % 7 == 0, ".").otherwise("")
    )
    body = F.concat_ws(
        " ", F.transform(toks, lambda x, i: F.concat(x, punct(i)))
    )
    punctuated = F.concat(F.lit(_SENT_PREAMBLE + " "), body, F.lit("."))
    return TQ.segment_sentences(
        d.select("doc_id", punctuated.alias("ptext")), "doc_id", "ptext"
    )


# ---------------------------------------------------------------------------
# Trainable BPE tokenizer (Sennrich et al. 2016): the oracle unrolls the
# merge rounds as a CTE chain (the PageRank-oracle pattern) — each round is
# pair-count → deterministic argmax (cnt DESC, a, b) → replace-merge, with
# the same " sym " unit-string representation as operators/bpe.py so the
# plain-replace merge semantics mirror exactly.
# ---------------------------------------------------------------------------

_BPE_MERGES = 8


def _bpe_ctes(n: int) -> str:
    ctes = [
        f"tok AS (SELECT doc_id, unnest({_T}) AS word FROM documents)",
        "w0 AS (SELECT word, COUNT(*) AS wc,\n"
        "       regexp_replace(word, '(.)', ' \\1 ', 'g') || ' </w> ' AS units\n"
        "       FROM tok GROUP BY word)",
    ]
    for r in range(1, n + 1):
        prev = f"w{r - 1}"
        ctes.append(
            f"p{r} AS (SELECT u.a AS a, u.b AS b, CAST(SUM(wc) AS BIGINT) AS cnt\n"
            f"  FROM (SELECT wc, unnest([{{'a': s[i], 'b': s[i+1]}}\n"
            f"                           FOR i IN range(1, len(s))]) AS u\n"
            f"        FROM (SELECT wc, string_split(trim(units), '  ') AS s\n"
            f"              FROM {prev}))\n"
            f"  GROUP BY a, b)"
        )
        ctes.append(f"b{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1)")
        ctes.append(
            f"w{r} AS (SELECT word, wc,\n"
            f"  replace(units, ' ' || b{r}.a || '  ' || b{r}.b || ' ',\n"
            f"          ' ' || b{r}.a || b{r}.b || ' ') AS units\n"
            f"  FROM {prev}, b{r})"
        )
    return ",\n    ".join(ctes)


_BPE_VOCAB_SELECT = "\nUNION ALL\n".join(
    f"SELECT CAST({r} AS BIGINT) AS round, a AS lhs, b AS rhs, a || b AS merged, cnt FROM b{r}"
    for r in range(1, _BPE_MERGES + 1)
)


@register(
    "q_bpe_vocab",
    oracle=f"""
    WITH {_bpe_ctes(_BPE_MERGES)}
    {_BPE_VOCAB_SELECT}
    """,
    description="trainable BPE tokenizer (Sennrich 2016): 8 merge-training "
    "rounds as grouped aggregations over the distinct-word frequency table — "
    "per round ONE pair-keyed shuffle + a 1-row broadcast argmax "
    "(cnt DESC, pair ASC deterministic), plain-replace unit-string merge "
    "(left-to-right non-overlap == greedy BPE)",
    tags=("text", "tokenizer", "iterative"),
)
def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators import bpe as B

    merges, _ = B.bpe_train(
        table(spark, sf_dir, "documents"), "doc_id", "text", n_merges=_BPE_MERGES
    )
    return merges


@register(
    "q_bpe_encode",
    oracle=f"""
    WITH {_bpe_ctes(_BPE_MERGES)},
    enc AS (SELECT word, CAST(length(word) + 1 AS BIGINT) AS n_before,
                   CAST(len(string_split(trim(units), '  ')) AS BIGINT) AS n_after
            FROM w{_BPE_MERGES})
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_before) AS BIGINT) AS n_sym_before,
           CAST(SUM(n_after) AS BIGINT) AS n_sym_after
    FROM tok JOIN enc USING (word) GROUP BY doc_id
    """,
    description="apply the trained BPE vocabulary: per-document symbol counts "
    "before/after merges via ONE hint-free word-keyed join (vocabulary "
    "unbounded at corpus scale) + per-doc aggregation — the token-budget "
    "measurement step of a training-data pipeline",
    tags=("text", "tokenizer"),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators import bpe as B

    d = table(spark, sf_dir, "documents")
    _, vocab = B.bpe_train(d, "doc_id", "text", n_merges=_BPE_MERGES)
    return B.bpe_encode_stats(d, "doc_id", "text", vocab)


# ---------------------------------------------------------------------------
# Evaluation-metric + embedding-training-prep operators
# ---------------------------------------------------------------------------

_ROUGE_ORACLE = f"""
    WITH toks AS (SELECT doc_id, {_T} AS t FROM documents),
    g1 AS (SELECT doc_id, gram, COUNT(*) AS cnt
           FROM (SELECT doc_id, unnest(t) AS gram FROM toks) GROUP BY doc_id, gram),
    g2 AS (SELECT doc_id, gram, COUNT(*) AS cnt
           FROM (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS gram
                 FROM toks WHERE len(t) >= 2)
           GROUP BY doc_id, gram),
    t1 AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS tot FROM g1 GROUP BY doc_id),
    t2 AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS tot FROM g2 GROUP BY doc_id),
    pairs AS (SELECT d.doc_id AS cand_id, d.doc_id + 1 AS ref_id
              FROM documents d JOIN documents r ON r.doc_id = d.doc_id + 1
              WHERE d.doc_id % 2 = 0),
    ov1 AS (SELECT p.cand_id, p.ref_id, CAST(SUM(least(c.cnt, r.cnt)) AS BIGINT) AS o
            FROM pairs p JOIN g1 c ON c.doc_id = p.cand_id
                         JOIN g1 r ON r.doc_id = p.ref_id AND r.gram = c.gram
            GROUP BY p.cand_id, p.ref_id),
    ov2 AS (SELECT p.cand_id, p.ref_id, CAST(SUM(least(c.cnt, r.cnt)) AS BIGINT) AS o
            FROM pairs p JOIN g2 c ON c.doc_id = p.cand_id
                         JOIN g2 r ON r.doc_id = p.ref_id AND r.gram = c.gram
            GROUP BY p.cand_id, p.ref_id)
    SELECT p.cand_id, p.ref_id,
           CAST(COALESCE(ov1.o, 0) AS BIGINT) AS o1,
           ROUND(CAST(COALESCE(ov1.o, 0) AS DOUBLE) / CAST(tc1.tot AS DOUBLE), 6) AS rouge1_p,
           ROUND(CAST(COALESCE(ov1.o, 0) AS DOUBLE) / CAST(tr1.tot AS DOUBLE), 6) AS rouge1_r,
           ROUND(CAST(2 * COALESCE(ov1.o, 0) AS DOUBLE) / CAST(tc1.tot + tr1.tot AS DOUBLE), 6) AS rouge1_f,
           CAST(COALESCE(ov2.o, 0) AS BIGINT) AS o2,
           ROUND(CAST(COALESCE(ov2.o, 0) AS DOUBLE) / CAST(tc2.tot AS DOUBLE), 6) AS rouge2_p,
           ROUND(CAST(COALESCE(ov2.o, 0) AS DOUBLE) / CAST(tr2.tot AS DOUBLE), 6) AS rouge2_r,
           ROUND(CAST(2 * COALESCE(ov2.o, 0) AS DOUBLE) / CAST(tc2.tot + tr2.tot AS DOUBLE), 6) AS rouge2_f
    FROM pairs p
    LEFT JOIN ov1 ON ov1.cand_id = p.cand_id AND ov1.ref_id = p.ref_id
    LEFT JOIN ov2 ON ov2.cand_id = p.cand_id AND ov2.ref_id = p.ref_id
    JOIN t1 tc1 ON tc1.doc_id = p.cand_id
    JOIN t1 tr1 ON tr1.doc_id = p.ref_id
    JOIN t2 tc2 ON tc2.doc_id = p.cand_id
    JOIN t2 tr2 ON tr2.doc_id = p.ref_id
"""


@register(
    "q_rouge_overlap",
    oracle=_ROUGE_ORACLE,
    description="ROUGE-1/ROUGE-2 eval scoring between adjacent doc pairs "
    "(even candidate vs odd reference): clipped n-gram multiset overlap; "
    "P, R and the exact F1 = 2o/(tc+tr) integer ratio — one IEEE division "
    "each, engine-identical; gram joins hint-free on (doc, gram)",
    tags=("text", "eval", "scoring"),
)
def q_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    pairs = (
        d.where(F.col("doc_id") % 2 == 0)
        .select(F.col("doc_id").alias("cand_id"), (F.col("doc_id") + 1).alias("ref_id"))
        .join(d.select(F.col("doc_id").alias("ref_id")), "ref_id", "left_semi")
    )
    return TQ.rouge_overlap(d, pairs, "doc_id", "text").select(
        "cand_id", "ref_id",
        "o1", "rouge1_p", "rouge1_r", "rouge1_f",
        "o2", "rouge2_p", "rouge2_r", "rouge2_f",
    )


@register(
    "q_skipgram_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_T} AS t FROM documents),
    pl AS (SELECT [{{'c': t[i], 'x': t[i+1]}} FOR i IN range(1, len(t))]
                  || [{{'c': t[i+1], 'x': t[i]}} FOR i IN range(1, len(t))]
                  || [{{'c': t[i], 'x': t[i+2]}} FOR i IN range(1, len(t) - 1)]
                  || [{{'c': t[i+2], 'x': t[i]}} FOR i IN range(1, len(t) - 1)] AS ps
           FROM toks),
    u AS (SELECT unnest(ps) AS u FROM pl)
    SELECT u.c AS center, u.x AS context, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM u GROUP BY center, context
    ORDER BY cnt DESC, center, context LIMIT 50
    """,
    description="skip-gram (center, context) training-pair extraction (window "
    "2, both directions — the word2vec/GloVe prep step): map-side shifted "
    "zips + mirrors, ONE pair-keyed aggregation shuffle, top-50 as "
    "TakeOrderedAndProject with lexicographic tiebreak",
    tags=("text", "embedding", "scoring"),
)
def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TQ.skipgram_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )


@register(
    "q_text_normalize",
    oracle=f"""
    WITH raw AS (SELECT doc_id, '{_SENT_PREAMBLE} ' || text AS t FROM documents),
    n AS (SELECT doc_id, t,
                 trim(regexp_replace(regexp_replace(lower(t), '[^a-z0-9 ]', ' ', 'g'),
                                     ' +', ' ', 'g')) AS norm
          FROM raw)
    SELECT doc_id,
           CAST(length(t) AS BIGINT) AS n_raw,
           CAST(length(norm) AS BIGINT) AS n_norm,
           md5(norm) AS norm_fp,
           substr(norm, 1, 60) AS sample
    FROM n
    """,
    description="canonical text normalization (lowercase, strip non-alnum to "
    "space, collapse whitespace, trim) + the md5 normalized-dedup fingerprint "
    "— the preprocessing step ahead of exact dedup; exercised on a mixed-case/"
    "punctuated column (same literal preamble as q_sentence_split), pure "
    "map-side regexp chain in the RE2∩Java subset",
    tags=("text", "normalize"),
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    t = F.concat(F.lit(_SENT_PREAMBLE + " "), F.col("text"))
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(t), "[^a-z0-9 ]", " "), " +", " ")
    )
    return d.select(
        "doc_id",
        F.length(t).cast("bigint").alias("n_raw"),
        F.length(norm).cast("bigint").alias("n_norm"),
        F.md5(norm).alias("norm_fp"),
        F.substring(norm, 1, 60).alias("sample"),
    )


@register(
    "q_kneser_ney",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_T} AS t FROM documents),
    bg AS (SELECT unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bigram
           FROM toks WHERE len(t) >= 2),
    c12 AS (SELECT bigram, split_part(bigram, ' ', 1) AS w1,
                   split_part(bigram, ' ', 2) AS w2,
                   CAST(COUNT(*) AS BIGINT) AS c12
            FROM bg GROUP BY bigram),
    cw1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                   CAST(COUNT(*) AS BIGINT) AS n1_fw
            FROM c12 GROUP BY w1),
    cw2 AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1_bw FROM c12 GROUP BY w2),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM c12)
    SELECT bigram, c12, c1, n1_fw, n1_bw,
           ROUND(greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0) / c1
                 + (0.75 / c1) * n1_fw * (CAST(n1_bw AS DOUBLE) / n_types), 9) AS pkn
    FROM c12 JOIN cw1 USING (w1) JOIN cw2 USING (w2), g
    ORDER BY c12 DESC, bigram LIMIT 50
    """,
    description="interpolated Kneser-Ney bigram model (D=0.75 — the fourth "
    "smoothing-family member beside raw, Stupid-Backoff, and Jelinek-Mercer): "
    "absolute discounting + continuation-count backoff. Every term is a "
    "fixed-order chain of IEEE-exact ops on integers (0.75 is exactly "
    "representable; each divide/multiply is correctly rounded identically on "
    "both engines), so NO transcendental scaffolding is needed; one "
    "bigram-keyed shuffle + the forward/backward context stats as window "
    "sums over the model frame itself (no agg+join-back exchanges), "
    "top-50 as TakeOrderedAndProject",
    tags=("text", "quality", "scoring"),
)
def q_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = D.ws_tokens("text")
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, m), F.slice(toks, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bg = (
        D.spread(d, "doc_id")
        .where(F.size(toks) >= 2)
        .select(F.explode(bigrams).alias("bigram"))
    )
    c12 = bg.groupBy("bigram").agg(F.count(F.lit(1)).cast("bigint").alias("c12")).select(
        "bigram",
        F.substring_index("bigram", " ", 1).alias("w1"),
        F.substring_index("bigram", " ", -1).alias("w2"),
        "c12",
    )
    # forward (c1, n1_fw) and backward (n1_bw) context stats as window
    # sums over the bigram frame itself — the groupBy+join-back
    # formulation exchanged the frame twice per direction (agg + join);
    # one w1 window + one w2 window carry the same values in one
    # exchange each
    ww1 = Window.partitionBy("w1")
    ww2 = Window.partitionBy("w2")
    stats = (
        c12.withColumn("c1", F.sum("c12").over(ww1).cast("bigint"))
        .withColumn("n1_fw", F.count(F.lit(1)).over(ww1).cast("bigint"))
        .withColumn("n1_bw", F.count(F.lit(1)).over(ww2).cast("bigint"))
    )
    g = c12.agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    pkn = (
        F.greatest(F.col("c12").cast("double") - F.lit(0.75), F.lit(0.0)) / F.col("c1")
        + (F.lit(0.75) / F.col("c1"))
        * F.col("n1_fw")
        * (F.col("n1_bw").cast("double") / F.col("n_types"))
    )
    return (
        stats.crossJoin(F.broadcast(g))
        .select("bigram", "c12", "c1", "n1_fw", "n1_bw", F.round(pkn, 9).alias("pkn"))
        .orderBy(F.desc("c12"), "bigram")
        .limit(50)
    )


def _fh_digit(pos: int) -> str:
    return f"(strpos('0123456789abcdef', substr(md5('fh:' || term), {pos}, 1)) - 1)"


@register(
    "q_feature_hashing",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_T}) AS term FROM documents),
    m AS (SELECT doc_id,
                 CAST((({_fh_digit(1)} * 16 + {_fh_digit(2)}) % 64) AS INTEGER) AS bucket,
                 CASE WHEN {_fh_digit(3)} < 8 THEN 1 ELSE -1 END AS sign
          FROM tok WHERE term <> '')
    SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS val
    FROM m GROUP BY doc_id, bucket
    HAVING SUM(sign) <> 0
    """,
    description="feature hashing ('hashing trick', Weinberger 2009): 64-dim "
    "signed token vectorizer with NO vocabulary pass — md5 bucket + sign "
    "nibble, one explode + one (doc, bucket) aggregation; long-form non-zero "
    "output. The vocabulary-free property is what scales: no df table, no "
    "broadcast, unbounded token space in O(width) memory per doc",
    tags=("text", "features", "ml-prep"),
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TQ.hashed_features(table(spark, sf_dir, "documents"), "doc_id", "text", width=64)


def _quality_weights_sql() -> str:
    """The committed weight vector as a DuckDB BIGINT list literal —
    generated from the SAME tuple the Spark operator uses."""
    return "[" + ",".join(f"CAST({w} AS BIGINT)" for w in TQ.QUALITY_WEIGHTS_MICRO) + "]"


# The quality classifier's per-document logit (l), from the hashed
# bag-of-words features and the committed weights.
_QC_LOGIT_CTES = f"""tok AS (SELECT doc_id, unnest({_T}) AS term FROM documents),
    m AS (SELECT doc_id,
                 CAST((({_fh_digit(1)} * 16 + {_fh_digit(2)}) % 64) AS INTEGER) AS bucket,
                 CASE WHEN {_fh_digit(3)} < 8 THEN 1 ELSE -1 END AS sign
          FROM tok WHERE term <> ''),
    f AS (SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS val
          FROM m GROUP BY doc_id, bucket HAVING SUM(sign) <> 0),
    l AS (SELECT doc_id,
                 CAST({TQ.QUALITY_BIAS_MICRO} AS BIGINT)
                 + CAST(SUM(val * ({_quality_weights_sql()})[bucket + 1]) AS BIGINT)
                     AS logit_micro
          FROM f GROUP BY doc_id)"""

# The lexical-diversity reference label per document, over the tok CTE.
_QC_LABEL_CTE = """lbl AS (SELECT doc_id,
                   CASE WHEN 2 * COUNT(DISTINCT term) >= COUNT(*)
                        THEN 1 ELSE 0 END AS label
            FROM tok WHERE term <> '' GROUP BY doc_id)"""


def _qc_scored_and_labels(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The quality classifier's output and each document's lexical-diversity
    reference ``label`` (1 when at least half its tokens are distinct)."""
    d = table(spark, sf_dir, "documents")
    scored = TQ.quality_classifier(d, "doc_id", "text")
    toks = F.filter(D.ws_tokens("text"), lambda x: x != "")
    lbl = d.select(
        "doc_id",
        F.when(
            2 * F.size(F.array_distinct(toks)) >= F.size(toks), 1
        ).otherwise(0).alias("label"),
    ).where(F.size(toks) > 0)
    return scored, lbl


@register(
    "q_quality_classifier",
    oracle=f"""
    WITH {_QC_LOGIT_CTES}
    SELECT d.doc_id,
           COALESCE(l.logit_micro, CAST({TQ.QUALITY_BIAS_MICRO} AS BIGINT)) AS logit_micro,
           CASE WHEN COALESCE(l.logit_micro, CAST({TQ.QUALITY_BIAS_MICRO} AS BIGINT)) >= 0
                THEN 1 ELSE 0 END AS passed
    FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN l USING (doc_id)
    """,
    description="model-based quality filter (fastText/DSIR-style): a trained "
    "linear classifier over the 64-dim hashed bag-of-words features scores "
    "every doc and thresholds the logit. Weights are committed micro-unit "
    "integers (trained offline by scripts/train_quality_weights.py, recipe "
    "documented there), so scoring is pure BIGINT arithmetic — bit-identical "
    "across engines. One explode + two doc-keyed aggregations, weight lookup "
    "is a 64-literal array element_at: a single vocabulary-free pass that "
    "runs over 100 TB with two narrow shuffles and no joins",
    tags=("text", "quality", "ml-prep", "classifier"),
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TQ.quality_classifier(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    ).orderBy("doc_id")


# --- content-defined chunking (stateless LBFS rolling-hash chunker) --------

def _duck_cdc_cte() -> str:
    """CDC chunk CTE generated from the SAME constants as the operator."""
    w, m, d = D.CDC_WINDOW, D.CDC_MOD, D.CDC_DIVISOR
    plist = "[" + ",".join(f"CAST({p} AS BIGINT)" for p in D.CDC_POWERS) + "]"
    return f"""
    c0 AS (SELECT doc_id, text AS t, CAST(length(text) AS BIGINT) AS n FROM documents),
    c1 AS (SELECT *, [ascii(substr(t, CAST(i AS INT), 1)) FOR i IN range(1, n+1)] AS cs FROM c0),
    c2 AS (SELECT *, CASE WHEN n >= {w} THEN
             [CAST(list_sum([CAST(cs[CAST(i-{w}+j AS INT)] AS BIGINT) * {plist}[CAST(j AS INT)]
                             FOR j IN range(1, {w}+1)]) % {m} AS BIGINT)
              FOR i IN range({w}, n+1)]
           ELSE [] END AS hs FROM c1),
    c3 AS (SELECT *, [i FOR i IN range({w}, n+1) IF hs[CAST(i-{w}+1 AS INT)] % {d} = 0] AS bpos FROM c2),
    c4 AS (SELECT *, list_prepend(CAST(1 AS BIGINT), [x+1 FOR x IN bpos]) AS starts,
                     list_append(bpos, n) AS ends FROM c3),
    c5 AS (SELECT *, CASE WHEN n >= {w} THEN
             [substr(t, CAST(starts[CAST(k AS INT)] AS INT),
                     CAST(ends[CAST(k AS INT)] - starts[CAST(k AS INT)] + 1 AS INT))
              FOR k IN range(1, CAST(len(starts) AS BIGINT)+1)
              IF ends[CAST(k AS INT)] >= starts[CAST(k AS INT)]]
           WHEN n > 0 THEN [t] ELSE [] END AS chunks FROM c4)
    """


@register(
    "q_cdc_chunks",
    oracle=f"""
    WITH {_duck_cdc_cte()}
    SELECT doc_id, CAST(len(chunks) AS BIGINT) AS n_chunks, n AS total_len,
           CAST(list_max([CAST(length(c) AS BIGINT) FOR c IN chunks]) AS BIGINT) AS max_chunk_len,
           md5(chunks[1]) AS first_chunk_md5
    FROM c5
    """,
    description="content-defined chunking (stateless LBFS rolling-hash "
    "chunker, Muthitacharoen et al. 2001): boundary after every position "
    "whose 8-char polynomial hash is 0 mod 64 — identical text spans chunk "
    "identically wherever they appear, the property CDC dedup stores rely "
    "on; O(w*n) map-side Catalyst HOFs, no shuffle, no UDF; per-doc chunk "
    "stats",
    tags=("text", "dedup", "cdc"),
)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.cdc_chunk_summary(
        D.spread(table(spark, sf_dir, "documents"), "doc_id"), "doc_id", "text"
    ).orderBy("doc_id")


@register(
    "q_cdc_dedup_ratio",
    oracle=f"""
    WITH {_duck_cdc_cte()},
    h AS (SELECT unnest([md5(c) FOR c IN chunks]) AS ch FROM c5)
    SELECT COUNT(*) AS total_chunks, COUNT(DISTINCT ch) AS distinct_chunks,
           COUNT(*) - COUNT(DISTINCT ch) AS dup_chunks
    FROM h
    """,
    description="CDC chunk-store dedup ratio: total vs distinct chunk hashes "
    "across the corpus — the storage a CDC-backed store saves; chunk md5s "
    "map-side, ONE distinct-aggregation shuffle",
    tags=("text", "dedup", "cdc"),
)
def q_cdc_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.cdc_dedup_stats(
        D.spread(table(spark, sf_dir, "documents"), "doc_id"), "doc_id", "text"
    )


# --- web-text processing: tag stripping + URL parsing ----------------------

# HTML synthesized IDENTICALLY on both engines from document fields (same
# approach as the sentence-split punctuation column): the operator under
# test is the extraction, not the synthesis.
_HTML_SPARK = (
    "concat('<html><head><title>Doc ', cast(doc_id as string), ' - ', source, "
    "'</title></head><body><p>', text, '</p>', "
    "'<a href=\"https://data.example.org/corpus/', source, '/doc-', "
    "cast(doc_id as string), '?lang=', lang, '&amp;rev=4\">next</a></body></html>')"
)
_HTML_DUCK = (
    "concat('<html><head><title>Doc ', CAST(doc_id AS VARCHAR), ' - ', source, "
    "'</title></head><body><p>', text, '</p>', "
    "'<a href=\"https://data.example.org/corpus/', source, '/doc-', "
    "CAST(doc_id AS VARCHAR), '?lang=', lang, '&amp;rev=4\">next</a></body></html>')"
)


@register(
    "q_html_extract",
    oracle=f"""
    WITH h AS (SELECT doc_id, {_HTML_DUCK} AS html FROM documents),
    x AS (
      SELECT doc_id, html,
             regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
             replace(regexp_extract(html, 'href="([^"]*)"', 1), '&amp;', '&') AS href,
             trim(regexp_replace(regexp_replace(html, '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')) AS clean
      FROM h)
    SELECT doc_id, title,
           regexp_extract(href, '^https?://([^/]+)', 1) AS host,
           regexp_extract(href, '^https?://[^/]+([^?#]*)', 1) AS path,
           regexp_extract(href, '[?&]lang=([^&]*)', 1) AS url_lang,
           CAST(length(clean) AS BIGINT) AS clean_len,
           md5(clean) AS clean_md5
    FROM x
    """,
    description="web-text processing: HTML tag stripping (boilerplate "
    "removal) + URL parsing (host/path/query param, entity unescape) — all "
    "map-side regexp_replace/regexp_extract in the RE2-and-Java-safe subset "
    "(no lookaround, no backrefs); the cleaned text is length+md5 "
    "fingerprinted so the whole strip pipeline is hash-verified",
    tags=("text", "web", "regex"),
)
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    h = d.select("doc_id", F.expr(_HTML_SPARK).alias("html"))
    x = h.select(
        "doc_id",
        F.regexp_extract("html", "<title>([^<]*)</title>", 1).alias("title"),
        F.replace(
            F.regexp_extract("html", 'href="([^"]*)"', 1), F.lit("&amp;"), F.lit("&")
        ).alias("href"),
        F.trim(
            F.regexp_replace(F.regexp_replace("html", "<[^>]*>", " "), " +", " ")
        ).alias("clean"),
    )
    return x.select(
        "doc_id",
        "title",
        F.regexp_extract("href", "^https?://([^/]+)", 1).alias("host"),
        F.regexp_extract("href", "^https?://[^/]+([^?#]*)", 1).alias("path"),
        F.regexp_extract("href", "[?&]lang=([^&]*)", 1).alias("url_lang"),
        F.length("clean").cast("bigint").alias("clean_len"),
        F.md5("clean").alias("clean_md5"),
    )


@register(
    "q_entity_resolution",
    oracle="""
    WITH RECURSIVE """ + _NAME_VARIANT_PAIRS_DUCK + """,
    pairs AS (SELECT tok_a, tok_b FROM cands WHERE levenshtein(tok_a, tok_b) <= 1),
    sym AS (SELECT tok_a AS a, tok_b AS b FROM pairs
            UNION SELECT tok_b, tok_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
    comp AS (
      SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a),
    clusters AS (
      SELECT component, COUNT(*) AS cluster_size,
             array_to_string(list_sort(list(node)), '|') AS members
      FROM comp GROUP BY component)
    SELECT c.component, c.cluster_size, c.members,
           (SELECT COUNT(*) FROM customer cu JOIN comp m ON cu.c_name = m.node
            WHERE m.component = c.component) AS n_records
    FROM clusters c ORDER BY component
    """,
    description="entity-resolution composite: deletion-neighborhood fuzzy "
    "blocking (edit distance <= 1 on names) -> exact levenshtein verify -> "
    "large-star/small-star connected components -> canonical clusters with "
    "the lexicographically-smallest member as the survivor and the count of "
    "source records it absorbs — the full dedupe-merge pipeline every MDM / "
    "record-linkage system runs, composed from the repo's own primitives; "
    "every stage is the bucketed/bounded scale path (no all-pairs stage)",
    tags=("text", "fuzzy", "graph", "composite"),
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.graph import connected_components

    c = table(spark, sf_dir, "customer")
    # dedup=False: CC's entry normalization distincts the edge frame
    # anyway, so the verify feeds it raw and the composite pays ONE
    # 262k-pair dedup shuffle instead of two (round-11 profile). CC
    # checkpoints the frame on entry, so the deletion-neighborhood
    # verify chain executes exactly once.
    pairs = D.fuzzy_pairs_dist1(c, "c_custkey", "c_name", dedup=False).select(
        "tok_a", "tok_b"
    )
    # check_every=3: this adversarial graph converges at exactly round 3
    # (measured round-11) — batching the fixpoint check lets the three
    # rounds' lazy localCheckpoints materialize inside ONE job instead of
    # three round-boundary actions (the composite is action-latency-bound)
    cc = connected_components(pairs, "tok_a", "tok_b", check_every=3)
    # one-pass tail (round-11 VERDICT #4): every node IS a customer name
    # (the vocab came from c_name), so joining per-name record counts
    # onto cc and aggregating ONCE by component replaces the former two
    # groupBys over cc + final join — and with a single consumer the cc
    # localCheckpoint fence (which materialized the whole CC chain a
    # second time) is gone.
    name_counts = c.groupBy(F.col("c_name").alias("node")).agg(
        F.count(F.lit(1)).alias("nc")
    )
    return (
        cc.join(name_counts, "node")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.concat_ws("|", F.sort_array(F.collect_set("node"))).alias("members"),
            F.sum("nc").cast("bigint").alias("n_records"),
        )
        .select("component", "cluster_size", "members", "n_records")
        .orderBy("component")
    )


@register(
    "q_quantile_normalize",
    oracle="""
    WITH d AS (SELECT doc_id, source, n_chars FROM documents),
    src AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY source) AS n_src
      FROM d),
    gl AS (
      SELECT n_chars AS gval,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS idx
      FROM d),
    gn AS (SELECT COUNT(*) AS n_glob FROM d)
    SELECT s.doc_id, s.source, s.n_chars AS raw,
           CAST(((s.r - 1) * (gn.n_glob - 1)) // (s.n_src - 1) + 1 AS BIGINT) AS g_idx,
           g.gval AS norm_value
    FROM src s
    CROSS JOIN gn
    JOIN gl g ON g.idx = ((s.r - 1) * (gn.n_glob - 1)) // (s.n_src - 1) + 1
    WHERE s.n_src > 1
    """,
    description="quantile normalization across sources (training-mixture "
    "score calibration: map each source's score distribution onto the "
    "GLOBAL distribution so per-source scale drift cannot bias filtering): "
    "source rank r of n maps to global order statistic ((r-1)(N-1)) div "
    "(n-1) + 1 — PURE INTEGER index arithmetic, no float percentile "
    "boundary to diverge on; the global ranking is the one single-"
    "partition stage (documented W2 caveat — at scale, replace with "
    "range-partitioned cumulative counts)",
    tags=("text", "window", "normalization"),
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    src = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w_src).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_src"),
    )
    from platform_etl_backend_spark.operators.ranking import two_pass_row_number

    # global reference ranks via the two-pass distributed row_number —
    # the total count rides the same broadcast offsets frame for free
    glob_rn = two_pass_row_number(
        d.select("n_chars", "doc_id"), ["n_chars", "doc_id"],
        rn_col="idx", total_col="n_glob",
    )
    glob = glob_rn.select(F.col("n_chars").alias("gval"), "idx")
    n_glob = glob_rn.select("n_glob").limit(1)
    g_idx = F.expr("((r - 1) * (n_glob - 1)) div (n_src - 1) + 1")
    return (
        src.where(F.col("n_src") > 1)
        .crossJoin(F.broadcast(n_glob))
        .withColumn("g_idx", g_idx.cast("bigint"))
        .join(glob, F.col("idx") == F.col("g_idx"))
        .select("doc_id", "source", F.col("n_chars").alias("raw"), "g_idx",
                F.col("gval").alias("norm_value"))
    )


@register(
    "q_containment_join",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY id_a, id_b)
    SELECT id_a, id_b, inter,
           ROUND(CAST(inter AS DOUBLE) / za.n, 6) AS containment
    FROM inter
    JOIN sz za ON id_a = za.doc_id
    WHERE CAST(inter AS DOUBLE) / za.n >= 0.8
    """,
    description="asymmetric containment join (|A∩B|/|A| >= 0.8): the "
    "near-containment duplicates symmetric Jaccard misses when sizes "
    "differ; A-side prefix filter (AllPairs family) bounds candidates to "
    "A's rarest (1-t) shingle fraction x B's postings — exact, the oracle "
    "is the brute-force ordered-pair definition",
    tags=("dedup", "text", "join"),
)
def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.containment_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )


@register(
    "q_zipf_fit",
    oracle=f"""
    WITH toks AS (SELECT unnest({_T}) AS tok FROM documents),
    freq AS (SELECT tok, COUNT(*) AS f FROM toks GROUP BY tok),
    ranked AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS r FROM freq),
    pts AS (
      SELECT {duck_portable_ln_ratio("r", "1")} AS x,
             {duck_portable_ln_ratio("f", "1")} AS y
      FROM ranked),
    m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy
      FROM pts)
    SELECT CAST(n AS BIGINT) AS n_types,
           ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS zipf_slope,
           ROUND(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * (sx / n), 6)
               AS intercept
    FROM m
    """,
    description="Zipf's-law fit: least-squares slope of ln(freq) vs "
    "ln(rank) over the full rank-frequency vocabulary (a natural corpus "
    "~-1; a slope far off flags synthetic or templated text — a standard "
    "training-data diagnostic); BOTH logs come from the engine-portable "
    "ratio ln (integer rank/freq in, bit-stable out — thousands of "
    "transcendental values is exactly the regime where libm's last-ulp "
    "divergence bites), moments ride DECIMAL, slope/intercept are fixed "
    "IEEE chains + ROUND(6)",
    tags=("text", "stats", "diagnostics"),
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim("text"), r" +")).alias("tok"))
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    ranked = freq.select(
        "f", F.row_number().over(Window.orderBy(F.desc("f"), "tok")).alias("r")
    )
    pts = ranked.select(
        _portable_ln_ratio(F.col("r"), F.lit(1)).alias("x"),
        _portable_ln_ratio(F.col("f"), F.lit(1)).alias("y"),
    )
    # products in DOUBLE (bit-identical per row), decimal only for the
    # order-free SUM: decimal x decimal at scale 24 exceeds precision 38
    # and the engines reduce scale DIFFERENTLY (observed 1-micro intercept
    # drift) — the per-term-contribution convention avoids it
    dx = F.col("x").cast("decimal(28,12)")
    dy = F.col("y").cast("decimal(28,12)")
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")).cast("double").alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,12)")).cast("double").alias("sxy"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_types"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(F.col("sy") / F.col("n") - slope * (F.col("sx") / F.col("n")), 6).alias(
            "intercept"
        ),
    )


# --- unigram-LM (SentencePiece-style) subword tokenizer ---------------------

from platform_etl_backend_spark.operators import unigram as UNI


def _unigram_base_ctes() -> str:
    """Shared oracle CTEs: word types -> seed vocabulary with portable-ln
    micro-nat costs -> Viterbi DP (statically unrolled over UNI_WMAX
    character positions, UNI_LMAX piece lengths) -> backtrack. Generated
    from the SAME constants as operators/unigram.py; DP tie-break (CASE in
    ascending j order == shortest last piece) mirrors the Spark LEAST/CASE
    chain exactly."""
    wmax, lmax = UNI.UNI_WMAX, UNI.UNI_LMAX
    inf, unk = UNI.UNI_INF_MICRO, UNI.UNI_UNK_MICRO
    topk = UNI.UNI_TOPK
    subs = " || ".join(
        f"[substr(word, CAST(s AS INT), {j}) "
        f"FOR s IN range(1, CAST(length(word) AS BIGINT) - {j} + 2)]"
        for j in range(1, lmax + 1)
    )
    cost = (
        f"CAST(floor({duck_portable_ln_ratio('total', 'freq')} * 1000000.0) AS BIGINT)"
    )
    parts = [
        f"""wt AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       FROM (SELECT unnest({_T}) AS word FROM documents)
       WHERE word <> '' AND length(word) <= {wmax} GROUP BY word),
occ AS (SELECT piece, freq
        FROM (SELECT freq, unnest({subs}) AS piece FROM wt) WHERE piece <> ''),
pf AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS freq FROM occ GROUP BY piece),
vocab0 AS (SELECT piece, freq FROM pf WHERE length(piece) = 1
           UNION ALL
           SELECT piece, freq FROM (SELECT piece, freq FROM pf
                                    WHERE length(piece) >= 2
                                    ORDER BY freq DESC, piece LIMIT {topk})),
tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM vocab0),
vocab AS (SELECT piece, freq, {cost} AS cost_micro FROM vocab0, tot),
vmap AS (SELECT map(list(piece ORDER BY piece), list(cost_micro ORDER BY piece)) AS m
         FROM vocab)"""
    ]
    # cost columns c_i_j, all in one CTE off the word x map cross product
    cexprs = []
    for i in range(1, wmax + 1):
        for j in range(1, min(lmax, i) + 1):
            fb = unk if j == 1 else inf
            cexprs.append(
                f"COALESCE(m[substr(word, {i - j + 1}, {j})][1], "
                f"CAST({fb} AS BIGINT)) AS c_{i}_{j}"
            )
    parts.append(
        "d0 AS (SELECT word, freq, CAST(length(word) AS INT) AS n,\n  "
        + ",\n  ".join(cexprs)
        + "\n  FROM wt, vmap)"
    )
    parts.append("lv0 AS (SELECT *, CAST(0 AS BIGINT) AS best_0 FROM d0)")
    for i in range(1, wmax + 1):
        cands = [f"(best_{i - j} + c_{i}_{j})" for j in range(1, min(lmax, i) + 1)]
        least = f"least({', '.join(cands)})" if len(cands) > 1 else cands[0]
        whens = " ".join(
            f"WHEN {cands[j - 1]} = best_{i} THEN {j}"
            for j in range(1, min(lmax, i) + 1)
        )
        parts.append(
            f"lv{i} AS (SELECT *, {least} AS best_{i}, "
            f"CAST(CASE {whens} END AS INT) AS bp_{i} FROM lv{i - 1})"
        )
    bp_at = lambda p: (  # noqa: E731
        "CASE " + " ".join(f"WHEN {p} = {i} THEN bp_{i}" for i in range(1, wmax + 1)) + " END"
    )
    parts.append(f"bt0 AS (SELECT *, n AS p_0 FROM lv{wmax})")
    for k in range(1, wmax + 1):
        parts.append(
            f"bt{k} AS (SELECT *, "
            f"CAST(CASE WHEN p_{k - 1} <= 0 THEN 0 ELSE ({bp_at(f'p_{k - 1}')}) END AS INT) AS l_{k}, "
            f"CAST(p_{k - 1} - l_{k} AS INT) AS p_{k}, "
            f"CASE WHEN l_{k} > 0 THEN substr(word, p_{k - 1} - l_{k} + 1, l_{k}) END AS piece_{k} "
            f"FROM bt{k - 1})"
        )
    pieces = ", ".join(f"piece_{k}" for k in range(wmax, 0, -1))
    npieces = " + ".join(
        f"(CASE WHEN l_{k} > 0 THEN 1 ELSE 0 END)" for k in range(1, wmax + 1)
    )
    best_at = (
        "CASE " + " ".join(f"WHEN n = {i} THEN best_{i}" for i in range(1, wmax + 1)) + " END"
    )
    parts.append(
        f"""seg AS (SELECT word, freq, n AS n_chars,
        concat_ws('|', {pieces}) AS pieces,
        CAST({npieces} AS INT) AS n_pieces,
        CAST({best_at} AS BIGINT) AS cost_micro
        FROM bt{wmax})"""
    )
    return ",\n".join(parts)


@register(
    "q_unigram_tokenize",
    oracle=f"""
    WITH {_unigram_base_ctes()}
    SELECT word, freq, n_chars, pieces, n_pieces, cost_micro
    FROM seg ORDER BY word
    """,
    description="unigram-LM subword tokenizer (SentencePiece, Kudo 2018): "
    "seed vocabulary = every char + top-40 substrings by corpus frequency "
    "with -ln(p) costs in portable integer micro-nats; per-word-type "
    "Viterbi DP statically unrolled over 8 character positions (bounded-"
    "rounds trick, same family as the unrolled PageRank/BPE oracles), "
    "shortest-last-piece tie-break. Runs on the word-TYPE table (the BPE "
    "rollup), vocabulary rides as a 1-row broadcast map: at 100 TB the "
    "only heavy ops are one token explode + one word-keyed aggregation — "
    "the DP itself is map-side column arithmetic, zero joins",
    tags=("text", "tokenizer", "ml-prep"),
)
def q_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # materialize the word-TYPE rollup once: both the seed-vocab branch
    # and the Viterbi branch consume it, and without the checkpoint the
    # corpus token explode runs twice (at 100 TB the type table is exactly
    # what you materialize)
    words = UNI.word_types(docs, "doc_id", "text").localCheckpoint(eager=False)
    # checkpoint the vocab as well: it rides into the DP as a 1-row
    # broadcast map, and without the cut the broadcast build re-executes
    # the whole substring-explode/top-k pipeline (measured ~1.6s of the
    # query's wall at sf0.1 on a 66-row table)
    vocab = UNI.seed_piece_costs(words).localCheckpoint(eager=False)
    return UNI.viterbi_segment(words, vocab).orderBy("word")


@register(
    "q_unigram_em_costs",
    oracle=f"""
    WITH {_unigram_base_ctes()},
    occ2 AS (SELECT freq, piece
             FROM (SELECT freq, unnest(string_split(pieces, '|')) AS piece FROM seg)
             WHERE piece <> ''),
    pf2 AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS freq FROM occ2 GROUP BY piece),
    tot2 AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM pf2)
    SELECT piece, freq,
           CAST(floor({duck_portable_ln_ratio('total', 'freq')} * 1000000.0) AS BIGINT)
               AS cost_micro
    FROM pf2, tot2 ORDER BY piece
    """,
    description="one hard-EM (Viterbi-EM) step of the unigram-LM trainer: "
    "piece frequencies counted from the corpus Viterbi segmentation "
    "(word types weighted by corpus frequency) re-estimate the -ln(p) "
    "costs; unused seed pieces drop out (the EM prune). One piece-keyed "
    "aggregation + a 1-row broadcast total on top of the tokenize plan — "
    "the M-step is O(vocab), never O(corpus)",
    tags=("text", "tokenizer", "ml-prep"),
)
def q_unigram_em_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # materialize the word-TYPE rollup once: both the seed-vocab branch
    # and the Viterbi branch consume it, and without the checkpoint the
    # corpus token explode runs twice (at 100 TB the type table is exactly
    # what you materialize)
    words = UNI.word_types(docs, "doc_id", "text").localCheckpoint(eager=False)
    vocab = UNI.seed_piece_costs(words).localCheckpoint(eager=False)  # see q_unigram_tokenize
    return UNI.em_reestimate_costs(UNI.viterbi_segment(words, vocab)).orderBy("piece")


# --- multi-pattern blocklist matching --------------------------------------

_BLOCK_PATTERNS = ("join", "merge", "quantum", "stream", "window", "xylophone")


@register(
    "q_multi_pattern_match",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_T} AS toks FROM documents),
    m AS (SELECT doc_id,
                 list_sort(list_filter({list(_BLOCK_PATTERNS)!r},
                                       p -> list_contains(toks, p))) AS hits
          FROM t)
    SELECT doc_id, CAST(len(hits) AS INTEGER) AS n_matched,
           array_to_string(hits, '|') AS matched
    FROM m WHERE len(hits) > 0
    ORDER BY doc_id
    """,
    description="multi-pattern blocklist scan (the PII/contamination-term "
    "screening shape): a bounded pattern set rides as a literal array and "
    "every doc reports its token-level hits in ONE map-side pass — the "
    "single-scan alternative to per-pattern LIKE sweeps (N patterns cost "
    "one tokenization + N bounded array probes per doc, not N table "
    "scans). Pattern set is broadcast-by-literal; plan is scan -> project "
    "-> filter, zero shuffles",
    tags=("text", "filter", "blocklist"),
)
def q_multi_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = D.ws_tokens("text")
    pats = F.array(*[F.lit(p) for p in _BLOCK_PATTERNS])
    hits = F.sort_array(
        F.filter(pats, lambda p: F.array_contains(toks, p))
    )
    return (
        d.select("doc_id", hits.alias("hits"))
        .where(F.size("hits") > 0)
        .select(
            "doc_id",
            F.size("hits").cast("int").alias("n_matched"),
            F.array_join("hits", "|").alias("matched"),
        )
        .orderBy("doc_id")
    )


# --- DSIR: data selection via importance resampling -------------------------

_DSIR_TARGET_SQL = "('src0', 'src1', 'src2', 'src3')"
_DSIR_TARGETS = ("src0", "src1", "src2", "src3")


@register(
    "q_dsir_weights",
    oracle=f"""
    WITH tok AS (SELECT doc_id, source, unnest({_T}) AS term FROM documents),
    m AS (SELECT doc_id, source,
                 CAST((({_fh_digit(1)} * 16 + {_fh_digit(2)}) % 64) AS INTEGER) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM tok WHERE term <> '' GROUP BY doc_id, source, bucket),
    raw AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cr FROM m GROUP BY bucket),
    tgt AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS ct
            FROM m WHERE source IN {_DSIR_TARGET_SQL} GROUP BY bucket),
    tots AS (SELECT (SELECT CAST(SUM(cr) AS BIGINT) FROM raw) AS tr,
                    (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) FROM tgt) AS tt),
    model AS (SELECT r.bucket,
                     {duck_portable_ln_ratio(
                         "(COALESCE(t.ct, 0) + 1) * (s.tr + 64)",
                         "(r.cr + 1) * (s.tt + 64)")} AS lnr
              FROM raw r LEFT JOIN tgt t USING (bucket), tots s),
    w AS (SELECT m.doc_id,
                 CAST(SUM(CAST(m.cnt * md.lnr AS DECIMAL(28,12))) AS DOUBLE) AS logw
          FROM m JOIN model md USING (bucket) GROUP BY m.doc_id)
    SELECT doc_id, ROUND(logw, 6) AS logw, rank FROM (
      SELECT doc_id, logw,
             CAST(ROW_NUMBER() OVER (ORDER BY logw DESC, doc_id) AS INTEGER) AS rank
      FROM w) WHERE rank <= 100
    ORDER BY rank
    """,
    description="DSIR (Data Selection via Importance Resampling, Xie et al. "
    "2023, public arXiv:2302.03169): importance weight per doc = ratio of "
    "hashed bag-of-words likelihoods between a target domain (4 sources) "
    "and the raw corpus, Laplace-smoothed; log-ratio per bucket via the "
    "engine-portable ratio-ln on exact integer products, per-doc log "
    "weight as order-free DECIMAL contributions, top-100 resample by "
    "weight. The standard pretraining-data targeting method: two 64-row "
    "model aggregations + one broadcast model join + one doc rollup — no "
    "vocabulary pass, no per-doc state, any corpus size",
    tags=("text", "quality", "ml-prep", "sampling"),
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    from platform_etl_backend_spark.functions.portable_math import portable_ln_ratio

    tok = (
        D.spread(docs, "doc_id")
        .select("doc_id", "source", F.explode(D.ws_tokens("text")).alias("term"))
        .where(F.col("term") != "")
    )
    h = F.md5(F.concat(F.lit("fh:"), F.col("term")))
    hexd = "0123456789abcdef"
    d1 = F.instr(F.lit(hexd), F.substring(h, 1, 1)) - 1
    d2 = F.instr(F.lit(hexd), F.substring(h, 2, 1)) - 1
    m = (
        tok.select(
            "doc_id", "source", ((d1 * 16 + d2) % 64).cast("int").alias("bucket")
        )
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)  # feeds raw, target AND the per-doc rollup
    )
    raw = m.groupBy("bucket").agg(F.sum("cnt").cast("bigint").alias("cr"))
    tgt = (
        m.where(F.col("source").isin(*_DSIR_TARGETS))
        .groupBy("bucket")
        .agg(F.sum("cnt").cast("bigint").alias("ct"))
    )
    tots = (
        raw.agg(F.sum("cr").cast("bigint").alias("tr"))
        .crossJoin(
            F.broadcast(
                tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).cast("bigint").alias("tt"))
            )
        )
    )
    model = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            portable_ln_ratio(
                (F.coalesce(F.col("ct"), F.lit(0)) + 1) * (F.col("tr") + 64),
                (F.col("cr") + 1) * (F.col("tt") + 64),
            ).alias("lnr"),
        )
    )
    w = (
        m.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum((F.col("cnt") * F.col("lnr")).cast("decimal(28,12)"))
            .cast("double")
            .alias("logw")
        )
    )
    # top-100 as TakeOrderedAndProject (scale-safe per-partition top-k +
    # merge), THEN the rank window — which now sees only 100 rows, not a
    # full-corpus single-partition sort
    top = w.orderBy(F.desc("logw"), "doc_id").limit(100)
    win = Window.orderBy(F.desc("logw"), "doc_id")
    return (
        top.select(
            "doc_id", "logw", F.row_number().over(win).cast("int").alias("rank")
        )
        .select("doc_id", F.round("logw", 6).alias("logw"), "rank")
        .orderBy("rank")
    )


# --- Flesch-Kincaid readability ----------------------------------------------

@register(
    "q_readability",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_T} AS toks FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS w,
             CAST(GREATEST(1, len(toks) // 15) AS BIGINT) AS s,
             CAST(list_sum(list_transform(toks,
                  x -> GREATEST(1, len(regexp_extract_all(x, '[aeiouy]+')))))
                  AS BIGINT) AS y
      FROM t WHERE len(toks) >= 2),
    g AS (
      SELECT doc_id, w, s, y,
             39 * w * w + 1180 * y * s - 1559 * s * w AS num,
             100 * s * w AS den
      FROM m)
    SELECT doc_id, w, s, y,
           CASE WHEN num >= 0 THEN (2 * num * 1000000 + den) // (2 * den)
                ELSE -((2 * (-num) * 1000000 + den) // (2 * den))
           END AS fk_grade_micro
    FROM g ORDER BY doc_id
    """,
    description="Flesch-Kincaid grade level per document (the classical "
    "readability quality signal; Kincaid et al. 1975): syllables = "
    "vowel-group count per token (clamped >= 1, the standard heuristic), "
    "pseudo-sentences = fixed 15-token segments (the corpus is unpunctuated "
    "word soup — documented stand-in), and the grade 0.39*W/S + 11.8*Y/W - "
    "15.59 evaluated as ONE exact integer rational (39*W^2 + 1180*Y*S - "
    "1559*S*W) / (100*S*W), emitted micro-scaled with sign-aware "
    "round-half-away integer arithmetic — zero float ops anywhere. "
    "SCALE: pure map-side expression over the doc scan, no shuffle but "
    "the final presentation sort",
    tags=("text", "quality", "readability"),
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = D.ws_tokens("text")
    m = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("w"),
        F.greatest(F.lit(1), F.expr("size(split(trim(text), ' +')) div 15"))
        .cast("bigint").alias("s"),
        F.aggregate(
            F.transform(
                toks,
                lambda x: F.greatest(F.lit(1), F.regexp_count(x, F.lit("[aeiouy]+"))),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("y"),
    ).where(F.col("w") >= 2)
    g = m.select(
        "doc_id", "w", "s", "y",
        (39 * F.col("w") * F.col("w") + 1180 * F.col("y") * F.col("s")
         - 1559 * F.col("s") * F.col("w")).alias("num"),
        (100 * F.col("s") * F.col("w")).alias("den"),
    )
    return g.select(
        "doc_id", "w", "s", "y",
        F.when(
            F.col("num") >= 0,
            F.expr("(2 * num * 1000000 + den) div (2 * den)"),
        )
        .otherwise(-F.expr("(2 * (-num) * 1000000 + den) div (2 * den)"))
        .cast("bigint")
        .alias("fk_grade_micro"),
    ).orderBy("doc_id")


# --- RAKE keyword extraction -------------------------------------------------

_RAKE_STOP = (
    "the", "of", "and", "a", "to", "in", "is", "it", "for", "on", "with",
    "as", "at", "by", "an", "be", "this", "that", "from", "or", "are", "was",
)


@register(
    "q_rake_keywords",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_T} AS toks FROM documents),
    pw AS (
      SELECT doc_id, u.w AS word, u.p AS pos,
             CASE WHEN list_contains({list(_RAKE_STOP)!r}, u.w)
                  THEN 1 ELSE 0 END AS is_stop
      FROM t, unnest([struct_pack(p := i, w := toks[i])
                      FOR i IN range(1, len(toks) + 1)]) AS s(u)),
    ids AS (
      -- WHERE evaluates BEFORE window functions, so the stopword filter
      -- must live in a separate step or the running sum never increments
      SELECT doc_id, pos, word, is_stop,
             SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS phrase_id
      FROM pw),
    ph AS (SELECT doc_id, pos, word, phrase_id FROM ids WHERE is_stop = 0),
    phrases AS (
      SELECT doc_id, phrase_id,
             array_to_string(list_transform(
                 list_sort(list(struct_pack(p := pos, w := word))),
                 x -> x.w), ' ') AS phrase,
             CAST(COUNT(*) AS BIGINT) AS plen
      FROM ph GROUP BY doc_id, phrase_id),
    pword AS (
      SELECT p.phrase, p.plen, unnest(string_split(p.phrase, ' ')) AS word
      FROM phrases p),
    wstat AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS deg
      FROM pword GROUP BY word),
    wscore AS (
      SELECT word, (2 * deg * 1000000 + freq) // (2 * freq) AS score_micro
      FROM wstat),
    pscore AS (
      SELECT pw2.phrase,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(ws.score_micro) AS BIGINT) AS score_micro
      FROM (SELECT phrase, unnest(string_split(phrase, ' ')) AS word
            FROM (SELECT DISTINCT phrase FROM phrases)) pw2
      JOIN wscore ws ON pw2.word = ws.word
      GROUP BY pw2.phrase)
    SELECT phrase, n_words, score_micro
    FROM pscore ORDER BY score_micro DESC, phrase LIMIT 20
    """,
    description="RAKE keyword extraction (Rose et al. 2010): candidate "
    "phrases = maximal stopword-free token runs (phrase boundaries via a "
    "running stopword count — the gaps-and-islands shape), word score = "
    "degree/frequency where degree sums the lengths of phrases containing "
    "the word, phrase score = sum of member word scores. Scores are exact "
    "integers end-to-end: word scores round-half-away to micro units "
    "BEFORE the phrase sum (documented convention), so no float ever "
    "enters the ranking. SCALE: one doc-keyed window for phrase ids, one "
    "word rollup, one bounded vocabulary join back to distinct phrases, "
    "TakeOrdered top-20 — no single-partition full sort",
    tags=("text", "keywords", "rake"),
)
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = D.ws_tokens("text")
    stop = F.array(*[F.lit(s) for s in _RAKE_STOP])
    pw = d.select(
        "doc_id", F.posexplode(toks).alias("pos", "word")
    ).select(
        "doc_id", "pos", "word",
        F.when(F.array_contains(stop, F.col("word")), 1).otherwise(0).alias("is_stop"),
    )
    wseq = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ph = pw.select(
        "doc_id", "pos", "word",
        F.sum("is_stop").over(wseq).alias("phrase_id"),
    ).where(F.col("is_stop") == 0)
    phrases = ph.groupBy("doc_id", "phrase_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "word"))),
                lambda x: x["word"],
            ),
        ).alias("phrase"),
        F.count(F.lit(1)).cast("bigint").alias("plen"),
    )
    pword = phrases.select(
        "phrase", "plen", F.explode(F.split("phrase", " ")).alias("word")
    )
    wstat = pword.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    wscore = wstat.select(
        "word",
        F.expr("(2 * deg * 1000000 + freq) div (2 * freq)").alias("score_micro"),
    )
    pscore = (
        phrases.select("phrase").distinct()
        .select("phrase", F.explode(F.split("phrase", " ")).alias("word"))
        .join(wscore, "word")
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("score_micro").cast("bigint").alias("score_micro"),
        )
    )
    return pscore.orderBy(F.desc("score_micro"), "phrase").limit(20)


# --- WordPiece tokenizer (greedy longest-match-first) ------------------------

# Committed vocabulary: every single char (+ '##' continuation twin) so
# matching never fails, plus multi-char pieces chosen to force multi-step
# segmentations of the corpus vocabulary. Greedy longest-match-first is the
# HuggingFace/BERT WordPiece ENCODER algorithm (the trainer is BPE-like and
# already covered by q_bpe_vocab); with singles guaranteed, [UNK] cannot
# occur and the loop consumes >= 1 char per step, so a static unroll over
# the max word length (8) is exact.
_WP_SINGLES = [chr(c) for c in range(ord("a"), ord("z") + 1)]
_WP_MULTI = [
    "sc", "##an", "col", "##umn", "win", "##dow", "or", "##der", "so",
    "##rt", "pa", "agg", "val", "##ue", "li", "##ne", "key", "jo", "##in",
    "mer", "##ge", "que", "##ry", "gro", "##up", "vec", "##tor", "ha",
    "##sh", "slow", "st", "fil", "##ter", "fast", "sp", "##ark",
    "ba", "##tch", "ta", "##ble", "row", "da", "##ta", "big", "sm",
    "##all", "cu", "##sto", "##mer", "du", "##p", "the", "##e",
    # deliberately NO '##ream'/'##eam' piece: 'stream' must fall back to
    # single-char continuations, exercising the deep unroll (5+ pieces)
]
_WP_VOCAB = sorted(set(_WP_SINGLES + ["##" + c for c in _WP_SINGLES] + _WP_MULTI))
_WP_STEPS = 8
_WP_MAXLEN = 6


def _wordpiece_sql(
    source_cte: str, contains: str, final: str | None = None
) -> str:
    """Shared unrolled greedy-match SQL (runs verbatim on Spark SQL and
    DuckDB; only the vocabulary-membership syntax differs). ``contains``
    is a format string with one ``{piece}`` hole. ``final`` overrides the
    closing SELECT (the _lpa_oracle pattern — q_token_fertility scores the
    SAME unrolled segmentation); it may reference s{_WP_STEPS}."""
    ctes = [
        source_cte,
        "w1 AS (SELECT word, CAST(1 AS INTEGER) AS pos0, '' AS out0 FROM w0)",
    ]
    prev = "w1"
    for k in range(1, _WP_STEPS + 1):
        p, o = f"pos{k - 1}", f"out{k - 1}"
        cands = []
        for l in range(_WP_MAXLEN, 0, -1):
            piece = (
                f"CASE WHEN {p} = 1 THEN substr(word, {p}, {l}) "
                f"ELSE '##' || substr(word, {p}, {l}) END"
            )
            cands.append(
                f"WHEN length(word) - {p} + 1 >= {l} "
                f"AND {contains.format(piece=piece)} THEN {l}"
            )
        ctes.append(
            f"""m{k} AS (
      SELECT word, {p}, {o},
             CASE {' '.join(cands)} ELSE 1 END AS len{k}
      FROM {prev}),
    s{k} AS (
      SELECT word,
             CASE WHEN {p} > length(word) THEN {p}
                  ELSE {p} + len{k} END AS pos{k},
             CASE WHEN {p} > length(word) THEN {o}
                  ELSE {o} || '|' ||
                       (CASE WHEN {p} = 1 THEN substr(word, {p}, len{k})
                             ELSE '##' || substr(word, {p}, len{k}) END)
             END AS out{k}
      FROM m{k})"""
        )
        prev = f"s{k}"
    if final is None:
        final = (
            f"SELECT word, substr(out{_WP_STEPS}, 2) AS pieces,\n"
            f"           CAST(length(out{_WP_STEPS})"
            f" - length(replace(out{_WP_STEPS}, '|', '')) AS INTEGER) AS n_pieces\n"
            f"    FROM {prev} ORDER BY word"
        )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + final


_WP_DUCK_CONTAINS = f"list_contains({_WP_VOCAB!r}, {{piece}})"
_WP_SPARK_CONTAINS = (
    "array_contains(array(" + ", ".join(f"'{v}'" for v in _WP_VOCAB) + "), {piece})"
)


@register(
    "q_wordpiece_encode",
    oracle=_wordpiece_sql(
        "w0 AS (SELECT DISTINCT unnest(string_split_regex(trim(text), ' +'))"
        " AS word FROM documents)",
        _WP_DUCK_CONTAINS,
    ),
    description="WordPiece encoding (BERT's greedy longest-match-first "
    "subword segmentation; completes the tokenizer family beside trainable "
    "BPE and the unigram-LM Viterbi): committed vocabulary with guaranteed "
    "single-char fallback, statically unrolled over the max word length — "
    "each step one bounded CASE over candidate lengths, '##' continuation "
    "convention, '|'-serialized pieces. The SAME generated SQL text runs "
    "on both engines (only the array-membership builtin differs). SCALE: "
    "runs on the DISTINCT-WORD frame (vocabulary-sized, not corpus-sized) "
    "as pure map-side expressions; re-attach to the corpus with one "
    "vocabulary join when per-doc pieces are needed",
    tags=("text", "tokenizer", "wordpiece"),
)
def q_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents_wp")
    return spark.sql(
        _wordpiece_sql(
            "w0 AS (SELECT DISTINCT explode(split(trim(text), ' +'))"
            " AS word FROM documents_wp)",
            _WP_SPARK_CONTAINS,
        )
    )


# --- portable Soundex phonetic blocking --------------------------------------

_SOUNDEX_CLASSES = (
    ("[bfpv]", "1"), ("[cgjkqsxz]", "2"), ("[dt]", "3"),
    ("l", "4"), ("[mn]", "5"), ("r", "6"), ("[aeiouyhw]", "0"),
)


def _soundex_sql(word: str, rr) -> str:
    """American-Soundex-lite phonetic code built from ONE regexp_replace
    chain (simplified: the h/w same-code-bridging nuance is skipped —
    documented; deterministic on both engines). ``rr(expr, pat, rep,
    backref)`` formats an engine's global regexp_replace. The duplicate
    collapse uses one literal run pattern PER digit — RE2 (DuckDB) has no
    pattern backreferences, so ([0-9])\\1+ silently never matches there
    (the Java-regex ∩ RE2 subset rule)."""
    coded = word
    for pat, rep in _SOUNDEX_CLASSES:
        coded = rr(coded, pat, rep, False)
    collapsed = coded
    for d in "0123456":
        collapsed = rr(collapsed, f"{d}{d}+", d, False)
    return (
        f"upper(substr({word}, 1, 1)) || "
        f"substr(replace(substr({collapsed}, 2), '0', '') || '000', 1, 3)"
    )


def _rr_duck(expr: str, pat: str, rep: str, backref: bool) -> str:
    r = "\\1" if backref else rep
    return f"regexp_replace({expr}, '{pat}', '{r}', 'g')"


def _rr_spark(expr: str, pat: str, rep: str, backref: bool) -> str:
    # Spark SQL string literals are backslash-escaped (unlike DuckDB's),
    # so the \1 pattern backreference must be doubled or it parses to '1'
    r = "$1" if backref else rep
    return f"regexp_replace({expr}, '{pat.replace(chr(92), chr(92) * 2)}', '{r}')"


@register(
    "q_phonetic_blocking",
    oracle=f"""
    WITH w AS (
      SELECT p_partkey, string_split_regex(trim(p_name), ' +')[1] AS word
      FROM part),
    c AS (SELECT p_partkey, word, {_soundex_sql('word', _rr_duck)} AS code
          FROM w)
    SELECT code,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words,
           array_to_string(list_sort(list(DISTINCT word)), '|') AS words
    FROM c GROUP BY code ORDER BY code
    """,
    description="phonetic blocking via a from-scratch engine-portable "
    "Soundex (American Soundex simplified: consonant classes -> digits, "
    "adjacent-duplicate collapse via one backreference regex, vowel strip, "
    "pad to 4 — the h/w bridging nuance skipped, documented): the standard "
    "cheap blocking key for entity resolution that survives spelling "
    "variation, beside the deletion-neighborhood and prefix-filter "
    "blockers. SCALE: pure map-side expression chain -> one rollup on the "
    "code; as a blocker it bounds candidate pairs to sum(block^2) exactly "
    "like the ER composite's guard",
    tags=("text", "er", "blocking", "phonetic"),
)
def q_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    w = p.select(
        "p_partkey",
        F.element_at(F.split(F.trim("p_name"), r" +"), 1).alias("word"),
    )
    c = w.select(
        "p_partkey", "word",
        F.expr(_soundex_sql("word", _rr_spark)).alias("code"),
    )
    return (
        c.groupBy("code")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.countDistinct("word").cast("bigint").alias("n_words"),
            F.concat_ws("|", F.sort_array(F.collect_set("word"))).alias("words"),
        )
        .orderBy("code")
    )


# --- Fellegi-Sunter probabilistic record linkage ------------------------------

# Committed m/u field weights (Fellegi & Sunter 1969; the Splink-style
# scoring model): log-odds precomputed OFFLINE from the m/u probabilities
# below and committed as micro-nat INTEGER literals, so scoring is pure
# BIGINT arithmetic on both engines (the q_quality_classifier convention).
#   field            m     u      agree w = ln(m/u)   disagree w = ln((1-m)/(1-u))
#   acctbal band     0.90  0.10   +2.197225           -2.197225
#   key fragment     0.95  0.01   +4.553877           -2.986213
#   name suffix      0.90  0.01   +4.499810           -2.292535
_FS_WEIGHTS = {
    "bal": (2197225, -2197225),
    "key": (4553877, -2986213),
    "sfx": (4499810, -2292535),
}
_FS_THRESHOLD = 2_000_000  # micro-nats


@register(
    "q_fellegi_sunter",
    oracle=f"""
    WITH pairs AS (
      SELECT c.c_custkey, s.s_suppkey, c.c_nationkey AS nation,
             CASE WHEN floor(c.c_acctbal / 1000) = floor(s.s_acctbal / 1000)
                  THEN 1 ELSE 0 END AS ag_bal,
             CASE WHEN c.c_custkey % 100 = s.s_suppkey % 100
                  THEN 1 ELSE 0 END AS ag_key,
             CASE WHEN right(c.c_name, 2) = right(s.s_name, 2)
                  THEN 1 ELSE 0 END AS ag_sfx
      FROM customer c JOIN supplier s
        ON c.c_nationkey = s.s_nationkey
       AND floor(c.c_acctbal / 2000) = floor(s.s_acctbal / 2000)),
    scored AS (
      SELECT nation,
             (CASE WHEN ag_bal = 1 THEN {_FS_WEIGHTS['bal'][0]}
                   ELSE {_FS_WEIGHTS['bal'][1]} END
            + CASE WHEN ag_key = 1 THEN {_FS_WEIGHTS['key'][0]}
                   ELSE {_FS_WEIGHTS['key'][1]} END
            + CASE WHEN ag_sfx = 1 THEN {_FS_WEIGHTS['sfx'][0]}
                   ELSE {_FS_WEIGHTS['sfx'][1]} END) AS score_micro
      FROM pairs)
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN score_micro >= {_FS_THRESHOLD}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_links,
           CAST(MAX(score_micro) AS BIGINT) AS max_score_micro,
           CAST(MIN(score_micro) AS BIGINT) AS min_score_micro
    FROM scored GROUP BY nation ORDER BY nation
    """,
    description="Fellegi-Sunter probabilistic record linkage (1969; the "
    "Splink scoring model) between customers and suppliers: candidate "
    "pairs from a compound blocking key (nationkey + acctbal/2000 band — "
    "never all-pairs), per-field agreement log-odds committed as "
    "micro-nat integer literals (offline m/u estimates documented above), "
    "match score = exact BIGINT sum, threshold classification, per-nation "
    "rollup. SCALE: one equi-join on the compound block key bounds "
    "candidates to sum(block_c * block_s); weights ride as literals "
    "(no weight table join); scoring is map-side",
    tags=("text", "er", "linkage", "scoring"),
)
def q_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    pairs = c.join(
        s,
        (c["c_nationkey"] == s["s_nationkey"])
        & (F.floor(c["c_acctbal"] / 2000) == F.floor(s["s_acctbal"] / 2000)),
    ).select(
        c["c_nationkey"].alias("nation"),
        F.when(
            F.floor(c["c_acctbal"] / 1000) == F.floor(s["s_acctbal"] / 1000), 1
        ).otherwise(0).alias("ag_bal"),
        F.when(c["c_custkey"] % 100 == s["s_suppkey"] % 100, 1)
        .otherwise(0).alias("ag_key"),
        F.when(F.expr("right(c_name, 2)") == F.expr("right(s_name, 2)"), 1)
        .otherwise(0).alias("ag_sfx"),
    )
    wa, wd = _FS_WEIGHTS["bal"]
    ka, kd = _FS_WEIGHTS["key"]
    sa, sd = _FS_WEIGHTS["sfx"]
    scored = pairs.select(
        "nation",
        (
            F.when(F.col("ag_bal") == 1, wa).otherwise(wd)
            + F.when(F.col("ag_key") == 1, ka).otherwise(kd)
            + F.when(F.col("ag_sfx") == 1, sa).otherwise(sd)
        ).alias("score_micro"),
    )
    return (
        scored.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                F.when(F.col("score_micro") >= _FS_THRESHOLD, 1).otherwise(0)
            ).cast("bigint").alias("n_links"),
            F.max("score_micro").cast("bigint").alias("max_score_micro"),
            F.min("score_micro").cast("bigint").alias("min_score_micro"),
        )
        .orderBy("nation")
    )


# --- Jaro-Winkler similarity (exact integer, unrolled matching) ---------------

_JW_MAXLEN = 12


def _jw_body_sql(idiv) -> str:
    """Jaro-Winkler over a ``pairs(word_a, word_b)`` CTE as ONE generated
    SQL text per engine (the q_wordpiece_encode convention — only the
    integer-division operator differs, injected via ``idiv(num, den)``).

    The greedy character matching (first unmatched in-window position per
    s1 char — the classic Jaro two-pass algorithm) is statically unrolled
    over the bounded word length: each of the 12 steps folds a matched-
    position BITMASK plus the in-order matched-chars string of a through
    one 12-branch CASE; afterwards m = popcount, b's matched chars
    reassemble in position order, and transpositions count positionwise
    mismatches. Every quantity stays an EXACT INTEGER: with t2 = raw
    mismatch count and t = t2 div 2 (TRUNCATED — the strcmp95/rapidfuzz
    convention), jaro = N/D for N = m*m*(l1+l2) + (m - t)*l1*l2 and
    D = 3*l1*l2*m, the Winkler boost (prefix p <= 4, scale 0.1, applied
    iff jaro >= 0.7 — the exact-rational equivalent of the builtin float
    comparison at the boundary, i.e. 10N >= 7D) gives jw = (N*(10-p) + p*D) / (10*D),
    and jw_micro is round-half-away integer arithmetic — zero floats
    anywhere, so the two engines agree bit-for-bit by construction.
    """
    L = _JW_MAXLEN
    ctes = [
        """jw0 AS (
      SELECT word_a AS a, word_b AS b,
             CAST(length(word_a) AS BIGINT) AS l1,
             CAST(length(word_b) AS BIGINT) AS l2,
             GREATEST(CAST(FLOOR(GREATEST(length(word_a), length(word_b)) / 2.0)
                           AS BIGINT) - 1, 0) AS w
      FROM pairs)"""
    ]
    prev = "jw0"
    mask_prev, ma_prev = "0", "''"
    for i in range(1, L + 1):
        branches = []
        for j in range(1, L + 1):
            bit = 1 << (j - 1)
            branches.append(
                f"WHEN {j} <= l2 AND ABS({i} - {j}) <= w "
                f"AND substr(b, {j}, 1) = substr(a, {i}, 1) "
                f"AND ({mask_prev} & {bit}) = 0 THEN {bit}"
            )
        f_expr = (
            f"CASE WHEN {i} <= l1 THEN "
            f"(CASE {' '.join(branches)} ELSE 0 END) ELSE 0 END"
        )
        ctes.append(
            f"""jm{i} AS (
      SELECT a, b, l1, l2, w,
             {mask_prev} + f{i} AS mask{i},
             {ma_prev} || CASE WHEN f{i} > 0 THEN substr(a, {i}, 1)
                               ELSE '' END AS ma{i}
      FROM (SELECT *, {f_expr} AS f{i} FROM {prev}))"""
        )
        prev, mask_prev, ma_prev = f"jm{i}", f"mask{i}", f"ma{i}"
    pop = " + ".join(
        f"CASE WHEN (mask{L} & {1 << (j - 1)}) > 0 THEN 1 ELSE 0 END"
        for j in range(1, L + 1)
    )
    mb = " || ".join(
        f"CASE WHEN (mask{L} & {1 << (j - 1)}) > 0 THEN substr(b, {j}, 1) "
        f"ELSE '' END"
        for j in range(1, L + 1)
    )
    ctes.append(
        f"""jmt AS (
      SELECT a, b, l1, l2, ma{L} AS ma,
             CAST({pop} AS BIGINT) AS m, {mb} AS mb
      FROM {prev})"""
    )
    t2 = " + ".join(
        f"CASE WHEN {k} <= m AND substr(ma, {k}, 1) <> substr(mb, {k}, 1) "
        f"THEN 1 ELSE 0 END"
        for k in range(1, L + 1)
    )
    pl = (
        "CASE "
        + " ".join(
            f"WHEN substr(a, 1, {k}) = substr(b, 1, {k}) THEN {k}"
            for k in range(4, 0, -1)
        )
        + " ELSE 0 END"
    )
    ctes.append(
        f"""jtt AS (
      SELECT a, b, l1, l2, m,
             CAST({t2} AS BIGINT) AS t2,
             CAST({pl} AS BIGINT) AS pl
      FROM jmt)"""
    )
    # transpositions truncate to integer (t = t2 div 2) — the strcmp95 /
    # rapidfuzz / DuckDB-builtin lineage; an odd mismatch count (3-cycle
    # among matched chars) is possible and the truncation is observable
    t_half = idiv("t2", "2")
    ctes.append(
        f"""jnd AS (
      SELECT a, b, m, pl,
             m * m * (l1 + l2) + (m - {t_half}) * l1 * l2 AS nn,
             3 * l1 * l2 * m AS dd
      FROM jtt)"""
    )
    boosted = idiv("2000000 * (nn * (10 - pl) + pl * dd) + 10 * dd", "20 * dd")
    plain = idiv("2000000 * nn + dd", "2 * dd")
    final = f"""SELECT a AS word_a, b AS word_b, m AS m_matches,
           CAST(CASE WHEN m = 0 THEN 0
                     WHEN 10 * nn >= 7 * dd THEN {boosted}
                     ELSE {plain} END AS BIGINT) AS jw_micro
    FROM jnd
    ORDER BY jw_micro DESC, word_a, word_b LIMIT 20"""
    return ",\n    ".join(ctes) + "\n    " + final


def _jw_idiv_duck(num: str, den: str) -> str:
    return f"(({num}) // ({den}))"


def _jw_idiv_spark(num: str, den: str) -> str:
    return f"(({num}) div ({den}))"


def _jw_pairs_duck() -> str:
    return f"""
    WITH words AS (
      SELECT DISTINCT lower(w) AS word
      FROM (SELECT unnest(string_split_regex(trim(text), ' +')) AS w
            FROM documents
            UNION ALL
            SELECT unnest(string_split_regex(trim(p_name), ' +')) AS w
            FROM part)
      WHERE length(w) BETWEEN 3 AND {_JW_MAXLEN}),
    pairs AS (
      SELECT x.word AS word_a, y.word AS word_b
      FROM words x JOIN words y
        ON substr(x.word, 1, 1) = substr(y.word, 1, 1) AND x.word < y.word),
    """


@register(
    "q_jaro_winkler",
    oracle=_jw_pairs_duck() + _jw_body_sql(_jw_idiv_duck),
    description="Jaro-Winkler similarity (Winkler 1990; the standard ER "
    "string comparator beside Levenshtein/Soundex/Fellegi-Sunter) over "
    "first-letter-blocked word pairs from the documents+part vocabulary "
    "— top-20 most similar distinct pairs: the greedy in-window "
    "character matching is statically "
    "unrolled over the bounded word length as a 12-step bitmask fold "
    "(pure CASE arithmetic), transpositions and the <=4-char prefix "
    "boost (threshold 0.7) follow, and jw_micro is EXACT round-half-away "
    "integer arithmetic on the rational N/D form — zero floats, so both "
    "engines agree bit-for-bit (same generated SQL text, only the "
    "integer-div operator differs). SCALE: candidate pairs bounded by "
    "the first-letter block join (sum block^2, the ER-composite guard shape), "
    "scoring is pure map-side expression chain on the DISTINCT-WORD "
    "frame (vocabulary-sized), top-20 via TakeOrderedAndProject",
    tags=("text", "er", "similarity", "jaro"),
)
def q_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "part").createOrReplaceTempView("part_jw")
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents_jw")
    sql = f"""
    WITH words AS (
      SELECT DISTINCT lower(w) AS word
      FROM (SELECT explode(split(trim(text), ' +')) AS w FROM documents_jw
            UNION ALL
            SELECT explode(split(trim(p_name), ' +')) AS w FROM part_jw)
      WHERE length(w) BETWEEN 3 AND {_JW_MAXLEN}),
    pairs AS (
      SELECT x.word AS word_a, y.word AS word_b
      FROM words x JOIN words y
        ON substr(x.word, 1, 1) = substr(y.word, 1, 1) AND x.word < y.word),
    """ + _jw_body_sql(_jw_idiv_spark)
    return spark.sql(sql)


# --- C4-style paragraph dedup (chunk -> keep-first -> reassemble) ------------

_PARA_W = 20  # tokens per paragraph


@register(
    "q_paragraph_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_T} AS toks FROM documents),
    ch0 AS (
      -- chunk list built in the projection: DuckDB's LATERAL comprehension
      -- binder resolves outer columns only as subscripts (toks[i]), not
      -- inside nested calls (list_slice(toks, ...)) — a real binder gap
      SELECT doc_id,
             [struct_pack(
                  ci := i,
                  ch := array_to_string(list_slice(toks, i * {_PARA_W} + 1,
                                                   i * {_PARA_W} + {_PARA_W}), ' '))
              FOR i IN range(0, CAST(ceil(len(toks) / {_PARA_W}.0) AS BIGINT))]
             AS chunks
      FROM t),
    ch AS (
      SELECT doc_id, u.ci AS chunk_idx, u.ch AS chunk
      FROM ch0, unnest(chunks) AS s(u)),
    rk AS (
      SELECT doc_id, chunk_idx, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM ch),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks FROM ch
            GROUP BY doc_id),
    kept AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             md5(array_to_string(list_transform(
                 list_sort(list(struct_pack(ci := chunk_idx, ch := chunk))),
                 x -> x.ch), chr(31))) AS kept_hash
      FROM rk WHERE rn = 1 GROUP BY doc_id)
    SELECT t.doc_id, t.n_chunks,
           COALESCE(k.n_kept, 0) AS n_kept,
           t.n_chunks - COALESCE(k.n_kept, 0) AS n_dropped,
           COALESCE(k.kept_hash, '') AS kept_hash
    FROM tot t LEFT JOIN kept k ON t.doc_id = k.doc_id
    ORDER BY t.doc_id
    """,
    description="C4-style paragraph-level exact dedup with document "
    "reassembly (Raffel et al. 2020 dedupe by three-sentence span; here "
    "fixed 20-token paragraphs over the unpunctuated corpus): chunk every "
    "doc, keep each distinct paragraph only at its FIRST (doc_id, "
    "chunk_idx) occurrence, rebuild the surviving document and fingerprint "
    "it (md5 over the chunk_idx-ordered kept text). SCALE: the keep-first "
    "window shuffles on paragraph CONTENT (uniform key space, no skew "
    "hot-spot), totals aggregate map-side, reassembly is one doc-keyed "
    "rollup — the standard corpus-dedup plan at any scale",
    tags=("text", "dedup", "c4"),
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = D.ws_tokens("text")
    w = _PARA_W
    ch = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size(toks) / F.lit(float(w))).cast("bigint") - 1,
                ),
                lambda i: F.concat_ws(" ", F.slice(toks, i * w + 1, w)),
            )
        ).alias("chunk_idx", "chunk"),
    )
    rk = ch.select(
        "doc_id", "chunk_idx", "chunk",
        F.row_number()
        .over(Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx"))
        .alias("rn"),
    )
    tot = ch.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_chunks"))
    kept = (
        rk.where(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct(F.col("chunk_idx").alias("ci"),
                                                    F.col("chunk").alias("ch")))
                        ),
                        lambda x: x["ch"],
                    ),
                )
            ).alias("kept_hash"),
        )
    )
    return (
        tot.join(kept, "doc_id", "left")
        .select(
            "doc_id", "n_chunks",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_chunks") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
            F.coalesce("kept_hash", F.lit("")).alias("kept_hash"),
        )
        .orderBy("doc_id")
    )


# --- deterministic epoch shuffle ----------------------------------------------

@register(
    "q_epoch_shuffle",
    oracle="""
    WITH k AS (
      SELECT doc_id, e.epoch,
             md5('ep' || CAST(e.epoch AS VARCHAR) || ':'
                 || CAST(doc_id AS VARCHAR)) AS skey
      FROM documents CROSS JOIN (SELECT UNNEST([0, 1]) AS epoch) e),
    top AS (
      SELECT epoch, doc_id, skey,
             ROW_NUMBER() OVER (PARTITION BY epoch
                                ORDER BY skey, doc_id) AS pos
      FROM k)
    SELECT CAST(epoch AS INTEGER) AS epoch, CAST(pos AS INTEGER) AS pos,
           doc_id, skey
    FROM top WHERE pos <= 50 ORDER BY epoch, pos
    """,
    description="deterministic per-epoch training-data shuffle (the "
    "content-hash ordering every large-scale data loader needs: seeded, "
    "partitioning-invariant, resumable — no RNG state): shuffle key = "
    "md5(epoch salt || doc_id), epochs decorrelated by construction; "
    "emits each epoch's first 50 positions. SCALE: the per-epoch rank "
    "window is the oracle-mirror formulation; the production path is "
    "TakeOrdered per epoch (same result, no global sort) or full "
    "repartitionByRange(skey) when materializing whole epochs",
    tags=("text", "sampling", "shuffle"),
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    epochs = spark.range(2).select(F.col("id").cast("int").alias("epoch"))
    k = d.crossJoin(F.broadcast(epochs)).select(
        "doc_id", "epoch",
        F.md5(
            F.concat(
                F.lit("ep"), F.col("epoch").cast("string"),
                F.lit(":"), F.col("doc_id").cast("string"),
            )
        ).alias("skey"),
    )
    top = k.select(
        "epoch", "doc_id", "skey",
        F.row_number()
        .over(Window.partitionBy("epoch").orderBy("skey", "doc_id"))
        .alias("pos"),
    )
    return (
        top.where(F.col("pos") <= 50)
        .select("epoch", F.col("pos").cast("int").alias("pos"), "doc_id", "skey")
        .orderBy("epoch", "pos")
    )


# --- distributed top-k heavy hitters (TPUT-style, deterministic) --------------

_TOPK_SHARDS = 8
_TOPK_LOCAL = 10


@register(
    "q_distributed_topk",
    oracle=f"""
    WITH t AS (SELECT doc_id % {_TOPK_SHARDS} AS shard,
                      unnest({_T}) AS word
               FROM documents),
    c AS (SELECT shard, word, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM t GROUP BY shard, word),
    rk AS (SELECT shard, word, cnt,
                  ROW_NUMBER() OVER (PARTITION BY shard
                                     ORDER BY cnt DESC, word) AS rn
           FROM c),
    kept AS (SELECT shard, word, cnt FROM rk WHERE rn <= {_TOPK_LOCAL}),
    thr AS (SELECT shard, CAST(MIN(cnt) AS BIGINT) AS thr FROM kept
            GROUP BY shard),
    tot AS (SELECT CAST(SUM(thr) AS BIGINT) AS t_all FROM thr),
    agg AS (
      SELECT k.word,
             CAST(SUM(k.cnt) AS BIGINT) AS lb,
             CAST(SUM(th.thr) AS BIGINT) AS thr_seen
      FROM kept k JOIN thr th ON k.shard = th.shard
      GROUP BY k.word)
    SELECT word, lb, lb + ((SELECT t_all FROM tot) - thr_seen) AS ub
    FROM agg ORDER BY lb DESC, word LIMIT 10
    """,
    description="distributed top-k heavy hitters with DETERMINISTIC error "
    "bounds (the TPUT/three-phase shape; Cao & Wang 2004): rows split "
    "across shards (doc_id mod 8 — the row partitioning a cluster scan "
    "has), each shard contributes its exact local top-10 plus its "
    "threshold (10th count); a candidate's true count is bounded by "
    "[sum of seen counts, + sum of unseen shards' thresholds] because a "
    "word absent from a shard's top-10 counts at most that shard's "
    "threshold there. The communication-optimal alternative to a full "
    "global rollup when only the head matters. SCALE: per-shard rollups "
    "aggregate map-side; only k*shards candidate rows cross the network; "
    "thresholds are a shard-count-sized broadcast",
    tags=("text", "sketch", "topk"),
)
def q_distributed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.stats import tput_topk

    d = table(spark, sf_dir, "documents")
    t = d.select(
        (F.col("doc_id") % _TOPK_SHARDS).alias("shard"),
        F.explode(D.ws_tokens("text")).alias("word"),
    )
    c = t.groupBy("shard", "word").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    return tput_topk(c, _TOPK_LOCAL)


# --- collocation extraction (bigram t-score) -----------------------------------

@register(
    "q_collocations",
    oracle=f"""
    WITH toks AS (SELECT {_T} AS t FROM documents),
    bg AS (SELECT unnest([struct_pack(a := t[i], b := t[i+1])
                          FOR i IN range(1, len(t))]) AS u
           FROM toks),
    pairs AS (SELECT u.a AS a, u.b AS b FROM bg),
    fab AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS f_ab
            FROM pairs GROUP BY a, b),
    fa AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS f_a FROM pairs GROUP BY a),
    fb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS f_b FROM pairs GROUP BY b),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pairs)
    SELECT fab.a || ' ' || fab.b AS bigram, f_ab, f_a, f_b,
           ROUND((CAST(f_ab AS DOUBLE)
                  - CAST(f_a AS DOUBLE) * CAST(f_b AS DOUBLE)
                    / CAST((SELECT n FROM nn) AS DOUBLE))
                 / sqrt(CAST(f_ab AS DOUBLE)), 6) AS t_score
    FROM fab JOIN fa ON fab.a = fa.a JOIN fb ON fab.b = fb.b
    ORDER BY t_score DESC, bigram LIMIT 20
    """,
    description="collocation extraction by bigram t-score (Manning & "
    "Schuetze ch.5; the frequentist sibling of the PMI and LLR "
    "association measures already in the catalog): t = (f_ab - "
    "f_a*f_b/B)/sqrt(f_ab) where f_a/f_b are first/second-position "
    "marginals over the B adjacent bigrams (convention documented) — "
    "exact integer counts into one fixed-order IEEE expression. SCALE: "
    "map-side bigram fan-out (shifted zips), three count rollups, "
    "marginal joins keyed on words; TakeOrdered top-20",
    tags=("text", "collocations", "lm"),
)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    t = D.ws_tokens("text")
    pairs = d.select(
        F.explode(
            F.zip_with(
                F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
                F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("u")
    ).select(F.col("u.a").alias("a"), F.col("u.b").alias("b"))
    fab = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).cast("bigint").alias("f_ab"))
    fa = pairs.groupBy("a").agg(F.count(F.lit(1)).cast("bigint").alias("f_a"))
    fb = pairs.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("f_b"))
    nn = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    out = (
        fab.join(fa, "a").join(fb, "b").crossJoin(F.broadcast(nn))
        .select(
            F.concat_ws(" ", "a", "b").alias("bigram"), "f_ab", "f_a", "f_b",
            F.round(
                (
                    F.col("f_ab").cast("double")
                    - F.col("f_a").cast("double") * F.col("f_b").cast("double")
                    / F.col("n").cast("double")
                )
                / F.sqrt(F.col("f_ab").cast("double")),
                6,
            ).alias("t_score"),
        )
    )
    return out.orderBy(F.desc("t_score"), "bigram").limit(20)


# --- classifier evaluation (confusion matrix + P/R/F1) --------------------------

@register(
    "q_classifier_eval",
    oracle=f"""
    WITH {_QC_LOGIT_CTES},
    {_QC_LABEL_CTE},
    p AS (SELECT lbl.doc_id, lbl.label,
                 CASE WHEN COALESCE(l.logit_micro,
                                    CAST({TQ.QUALITY_BIAS_MICRO} AS BIGINT)) >= 0
                      THEN 1 ELSE 0 END AS pred
          FROM lbl LEFT JOIN l ON lbl.doc_id = l.doc_id),
    c AS (SELECT
            CAST(SUM(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(SUM(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            CAST(SUM(CASE WHEN pred = 0 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
            CAST(SUM(CASE WHEN pred = 0 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
          FROM p)
    SELECT tp, fp, fn, tn,
           CASE WHEN tp + fp = 0 THEN 0
                ELSE (2 * tp * 1000000 + (tp + fp)) // (2 * (tp + fp)) END
             AS precision_micro,
           CASE WHEN tp + fn = 0 THEN 0
                ELSE (2 * tp * 1000000 + (tp + fn)) // (2 * (tp + fn)) END
             AS recall_micro,
           CASE WHEN 2 * tp + fp + fn = 0 THEN 0
                ELSE (2 * (2 * tp) * 1000000 + (2 * tp + fp + fn))
                     // (2 * (2 * tp + fp + fn)) END AS f1_micro
    FROM c
    """,
    description="classifier evaluation harness (confusion matrix + "
    "precision/recall/F1) for the trained quality filter against a fixed "
    "lexical-diversity reference label (distinct-token ratio >= 0.5): "
    "counts are exact BIGINTs from one doc-keyed rollup; every metric is "
    "round-half-away integer micro arithmetic (F1 via the 2tp/(2tp+fp+fn) "
    "identity — no float chaining). The eval loop every model-based "
    "filter needs beside the scorer itself. SCALE: scoring plus one "
    "doc-keyed label rollup, then a 4-integer reduction",
    tags=("text", "quality", "ml-eval"),
)
def q_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored, lbl = _qc_scored_and_labels(spark, sf_dir)
    p = lbl.join(scored.select("doc_id", "passed"), "doc_id", "left").select(
        "label", F.coalesce("passed", F.lit(0)).alias("pred")
    )
    c = p.agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("label") == 1), 1).otherwise(0))
        .cast("bigint").alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("label") == 0), 1).otherwise(0))
        .cast("bigint").alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("label") == 1), 1).otherwise(0))
        .cast("bigint").alias("fn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("label") == 0), 1).otherwise(0))
        .cast("bigint").alias("tn"),
    )
    return c.selectExpr(
        "tp", "fp", "fn", "tn",
        "CASE WHEN tp + fp = 0 THEN CAST(0 AS BIGINT) ELSE (2 * tp * 1000000 + (tp + fp)) div (2 * (tp + fp)) END AS precision_micro",
        "CASE WHEN tp + fn = 0 THEN CAST(0 AS BIGINT) ELSE (2 * tp * 1000000 + (tp + fn)) div (2 * (tp + fn)) END AS recall_micro",
        "CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(0 AS BIGINT) ELSE (2 * (2 * tp) * 1000000 + (2 * tp + fp + fn)) div (2 * (2 * tp + fp + fn)) END AS f1_micro",
    )


# --- classifier ranking metrics: ROC-AUC + calibration ---------------------------

def _qc_scored_ctes() -> str:
    """Shared oracle CTE chain ending in p(doc_id, label, score): the
    committed-weight quality-classifier logit (micro integers) against
    the lexical-diversity reference label — the q_classifier_eval frame
    with the CONTINUOUS score kept instead of the thresholded decision."""
    return f"""{_QC_LOGIT_CTES},
    {_QC_LABEL_CTE},
    p AS (SELECT lbl.doc_id, lbl.label,
                 COALESCE(l.logit_micro,
                          CAST({TQ.QUALITY_BIAS_MICRO} AS BIGINT)) AS score
          FROM lbl LEFT JOIN l ON lbl.doc_id = l.doc_id)"""


def _qc_scored_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _qc_scored_ctes: (doc_id, label, score)."""
    scored, lbl = _qc_scored_and_labels(spark, sf_dir)
    return lbl.join(scored.select("doc_id", "logit_micro"), "doc_id", "left").select(
        "doc_id", "label",
        F.coalesce("logit_micro", F.lit(int(TQ.QUALITY_BIAS_MICRO)).cast("bigint"))
        .alias("score"),
    )


@register(
    "q_roc_auc",
    oracle=f"""
    WITH {_qc_scored_ctes()},
    r AS (SELECT label,
                 2 * RANK() OVER (ORDER BY score)
                   + COUNT(*) OVER (PARTITION BY score) - 1 AS r2
          FROM p),
    s AS (SELECT CAST(SUM(CASE WHEN label = 1 THEN r2 ELSE 0 END) AS BIGINT) AS spr2,
                 CAST(SUM(label) AS BIGINT) AS n1,
                 CAST(SUM(1 - label) AS BIGINT) AS n0
          FROM r)
    SELECT n1 AS n_pos, n0 AS n_neg,
           CAST((2 * 1000000 * (spr2 - n1 * (n1 + 1)) + 2 * n1 * n0)
                // (2 * (2 * n1 * n0)) AS BIGINT) AS auc_micro
    FROM s
    """,
    description="ROC-AUC of the quality classifier's continuous score "
    "against the lexical-diversity reference label, via the exact rank "
    "statistic (AUC == Mann-Whitney U / n1*n0; Hanley & McNeil 1982) — "
    "completes the eval harness beside q_classifier_eval's thresholded "
    "confusion matrix: tie-aware 2x-midranks as exact integers (the "
    "q_mann_whitney convention), AUC = (sum_pos_midranks - n1(n1+1)/2) "
    "/ (n1*n0) emitted as round-half-away micro — zero floats. SCALE: "
    "distinct-score pre-aggregation (count + positives per score) THEN "
    "the two-pass distributed cumsum (operators/ranking.py: range "
    "exchange + per-partition offsets, no single-partition sort) over "
    "the distinct-score frame; midranks derive from cumulative counts "
    "(2x-midrank == 2*cum_count - count + 1), then a 3-integer "
    "reduction — no pairwise comparisons despite the pairwise "
    "definition, and no O(n) global window anywhere in the plan",
    tags=("text", "quality", "ml-eval", "auc"),
)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.ranking import two_pass_cumsum

    p = _qc_scored_spark(spark, sf_dir)
    pts = p.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("label").cast("bigint").alias("pl"),
    )
    cum = two_pass_cumsum(pts, ["score"], ["c"])
    # 2x-midrank of every row at score s: 2*rank + count - 1
    #                                   = 2*(cum_c - c + 1) + c - 1
    #                                   = 2*cum_c - c + 1
    s = cum.agg(
        F.sum(F.col("pl") * (2 * F.col("cum_c") - F.col("c") + 1))
        .cast("bigint").alias("spr2"),
        F.sum("pl").cast("bigint").alias("n1"),
        F.sum(F.col("c") - F.col("pl")).cast("bigint").alias("n0"),
    )
    return s.selectExpr(
        "n1 AS n_pos",
        "n0 AS n_neg",
        "CAST((2 * 1000000 * (spr2 - n1 * (n1 + 1)) + 2 * n1 * n0) "
        "div (2 * (2 * n1 * n0)) AS BIGINT) AS auc_micro",
    )


@register(
    "q_calibration_bins",
    oracle=f"""
    WITH {_qc_scored_ctes()},
    b AS (SELECT label, score,
                 NTILE(10) OVER (ORDER BY score, doc_id) AS bin
          FROM p)
    SELECT CAST(bin AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST((2 * SUM(label) * 1000000 + COUNT(*)) // (2 * COUNT(*))
                AS BIGINT) AS pos_rate_micro,
           CAST(MIN(score) AS BIGINT) AS score_lo,
           CAST(MAX(score) AS BIGINT) AS score_hi
    FROM b GROUP BY bin ORDER BY bin
    """,
    description="calibration (reliability) bins for the quality "
    "classifier: score deciles by NTILE over a uniquely tie-broken order "
    "(the q_equidepth_histogram rule), per-bin positive rate as round-"
    "half-away integer micro plus the score range — the empirical curve "
    "an isotonic calibration (q_isotonic_fit) would be fit to; completes "
    "the eval family (confusion matrix / AUC / calibration). SCALE: the "
    "NTILE is the two-pass distributed rank (operators/ranking.py: "
    "range exchange + broadcast per-partition offsets + the SQL-standard "
    "remainder rule as arithmetic — no single-partition sort) + a "
    "10-group rollup",
    tags=("text", "quality", "ml-eval", "calibration"),
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.ranking import two_pass_ntile

    p = _qc_scored_spark(spark, sf_dir)
    b = two_pass_ntile(
        p.select("label", "score", "doc_id"), ["score", "doc_id"], 10,
        bucket_col="bin",
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr(
                "CAST((2 * SUM(label) * 1000000 + COUNT(*)) div (2 * COUNT(*)) AS BIGINT)"
            ).alias("pos_rate_micro"),
            F.min("score").cast("bigint").alias("score_lo"),
            F.max("score").cast("bigint").alias("score_hi"),
        )
        .select(F.col("bin").cast("int").alias("bin"), "n", "pos_rate_micro",
                "score_lo", "score_hi")
        .orderBy("bin")
    )


# --- rendezvous (HRW) sharding ---------------------------------------------------

_HRW_BASE = 8  # shard count before scale-out; the query also scores +1


@register(
    "q_rendezvous_sharding",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, u.s AS shard,
             md5('hrw:' || CAST(doc_id AS VARCHAR) || ':'
                 || CAST(u.s AS VARCHAR)) AS hv
      FROM documents
      CROSS JOIN (SELECT unnest(range(0, {_HRW_BASE + 1})) AS s) u),
    a8 AS (
      SELECT doc_id, shard AS s8 FROM (
        SELECT doc_id, shard,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY hv DESC, shard) AS rn
        FROM h WHERE shard < {_HRW_BASE})
      WHERE rn = 1),
    a9 AS (
      SELECT doc_id, shard AS s9 FROM (
        SELECT doc_id, shard,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY hv DESC, shard) AS rn
        FROM h)
      WHERE rn = 1),
    j AS (SELECT a8.doc_id, s8, s9 FROM a8 JOIN a9 ON a8.doc_id = a9.doc_id)
    SELECT CAST(s AS BIGINT) AS shard,
           CAST(SUM(CASE WHEN s8 = s THEN 1 ELSE 0 END) AS BIGINT) AS n_at8,
           CAST(SUM(CASE WHEN s9 = s THEN 1 ELSE 0 END) AS BIGINT) AS n_at9,
           CAST(SUM(CASE WHEN s9 = s AND s8 <> s9 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved_in
    FROM j CROSS JOIN (SELECT unnest(range(0, {_HRW_BASE + 1})) AS s) t
    GROUP BY s ORDER BY shard
    """,
    description="rendezvous (highest-random-weight) sharding (Thaler & "
    "Ravishankar 1998 — the stable shard-assignment primitive for "
    "pipeline scale-out): each doc goes to argmax_s md5(doc||s), scored "
    "at 8 shards AND at 9; HRW's minimal-disruption property means a "
    "doc moves ONLY to the new shard (n_moved_in is nonzero solely for "
    "shard 8, ~1/9 of docs — test-pinned), unlike modulus sharding "
    "where nearly everything reshuffles. SCALE: pure map-side hashing "
    "(shards x docs rows, shard count is a small constant), one doc-"
    "keyed argmax window, one tiny rollup; no coordination state at all",
    tags=("text", "sharding", "pipeline"),
)
def q_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_HRW_BASE))).alias("shard"),
    ).select(
        "doc_id", "shard",
        F.md5(
            F.concat(
                F.lit("hrw:"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("shard").cast("string"),
            )
        ).alias("hv"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("hv"), "shard")
    a9 = (
        h.select("doc_id", "shard", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("shard").alias("s9"))
    )
    a8 = (
        h.where(F.col("shard") < _HRW_BASE)
        .select("doc_id", "shard", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("shard").alias("s8"))
    )
    j = a8.join(a9, "doc_id")
    shards = spark.range(_HRW_BASE + 1).select(F.col("id").alias("s"))
    return (
        j.crossJoin(F.broadcast(shards))
        .groupBy("s")
        .agg(
            F.sum(F.when(F.col("s8") == F.col("s"), 1).otherwise(0))
            .cast("bigint").alias("n_at8"),
            F.sum(F.when(F.col("s9") == F.col("s"), 1).otherwise(0))
            .cast("bigint").alias("n_at9"),
            F.sum(
                F.when(
                    (F.col("s9") == F.col("s")) & (F.col("s8") != F.col("s9")), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_moved_in"),
        )
        .select(F.col("s").cast("bigint").alias("shard"), "n_at8", "n_at9", "n_moved_in")
        .orderBy("shard")
    )


# --- length-bucketed batching stats ------------------------------------------------

@register(
    "q_length_buckets",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_T}) AS BIGINT) AS n_tok FROM documents),
    b AS (
      SELECT doc_id, n_tok,
             CAST(CASE WHEN n_tok <= 16 THEN 16
                       WHEN n_tok <= 32 THEN 32
                       WHEN n_tok <= 64 THEN 64
                       ELSE 128 END AS BIGINT) AS cap
      FROM t)
    SELECT cap AS bucket_cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(cap - n_tok) AS BIGINT) AS n_pad,
           CAST((2 * 1000000 * SUM(cap - n_tok) + SUM(cap) * 1)
                // (2 * (SUM(cap) * 1)) AS BIGINT) AS pad_waste_micro
    FROM b GROUP BY cap ORDER BY bucket_cap
    """,
    description="length-bucketed batching statistics (the padding-"
    "efficiency accounting behind bucketed training batches, the "
    "practical alternative to q_pack_sequences' concat-and-split): docs "
    "binned to power-of-two token-length caps (16/32/64/128), per "
    "bucket the doc count, real tokens, padding tokens, and padding "
    "waste share as round-half-away integer micro — the number that "
    "decides whether bucketing or packing feeds the trainer. SCALE: one "
    "map-side length projection + a 4-group rollup; no shuffle beyond "
    "the tiny aggregation",
    tags=("text", "ml-prep", "batching"),
)
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    t = d.select(
        F.size(D.ws_tokens("text")).cast("bigint").alias("n_tok")
    )
    b = t.select(
        "n_tok",
        F.when(F.col("n_tok") <= 16, 16)
        .when(F.col("n_tok") <= 32, 32)
        .when(F.col("n_tok") <= 64, 64)
        .otherwise(128)
        .cast("bigint")
        .alias("cap"),
    )
    return (
        b.groupBy(F.col("cap").alias("bucket_cap"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.sum(F.col("cap") - F.col("n_tok")).cast("bigint").alias("n_pad"),
            F.expr(
                "CAST((2 * 1000000 * SUM(cap - n_tok) + SUM(cap) * 1)"
                " div (2 * (SUM(cap) * 1)) AS BIGINT)"
            ).alias("pad_waste_micro"),
        )
        .orderBy("bucket_cap")
    )


# --- MinHash-LSH recall/precision eval ---------------------------------------------

def _minhash_recall_oracle() -> str:
    return f"""
    WITH {_SHINGLE_CTE},
    {_duck_lsh_candidates(_MINHASH_SIG_COLS_DUCK, "sh")},
    cinter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS inter
      FROM cands c JOIN sh a ON a.doc_id = c.id_a
                   JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b),
    ver AS (
      SELECT id_a, id_b FROM cinter
      JOIN sz za ON id_a = za.doc_id JOIN sz zb ON id_b = zb.doc_id
      WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= {D.MINHASH_THRESHOLD}),
    tinter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b),
    truth AS (
      SELECT id_a, id_b FROM tinter
      JOIN sz za ON id_a = za.doc_id JOIN sz zb ON id_b = zb.doc_id
      WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= {D.MINHASH_THRESHOLD}),
    s AS (
      SELECT """ + _RECALL_SELECT_DUCK


@register(
    "q_minhash_recall",
    oracle=_minhash_recall_oracle(),
    description="MinHash-LSH approximation-quality eval: the verified LSH "
    "pair set measured against the EXACT Jaccard>=0.5 ground truth "
    "(brute-force shared-shingle baseline) — recall = verified/truth "
    "(verification is exact, so LSH pairs are a subset of truth) and "
    "candidate precision = verified/candidates, both round-half-away "
    "integer micro. The number that justifies (or indicts) the banding "
    "parameters before a 100 TB dedup run — beside the pytest-level "
    "recall envelopes, this one is oracle-checked end to end. SCALE: "
    "the truth side is the quadratic baseline (eval runs on a SAMPLE at "
    "scale — documented); the LSH side is the production path",
    tags=("dedup", "text", "lsh", "ml-eval"),
)
def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.dedup import (
        _min_hash, shingle_docs,
    )

    d = table(spark, sf_dir, "documents")
    docs = shingle_docs(d, "doc_id", "text", D.SHINGLE_K).persist()
    sig = docs.select(
        "doc_id",
        *[_min_hash(F.col("shingles"), i).alias(f"h{i}") for i in range(_MINHASH_HASHES)],
    )
    # feeds the count AND the verified-flag join
    cands = _lsh_candidate_pairs(sig).localCheckpoint()
    # Round-12: the verify pass is DERIVED from the truth pass instead of
    # re-aggregated. ver == truth ∩ cands exactly: a candidate pair with
    # no shared shingle has jaccard 0 (fails verify) and is absent from
    # the shared-shingle truth join; a pair with shared shingles gets the
    # IDENTICAL round(inter/union, 6) >= 0.5 test on identical integers
    # (array_intersect size over the distinct-shingle arrays == the count
    # of shared exploded distinct shingles). The truth side also reuses
    # the ALREADY-persisted shingle frame — the old ngram_jaccard_pairs
    # call re-tokenized and re-shingled the corpus with its own persists.
    sh = docs.select("doc_id", F.explode("shingles").alias("shingle"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = docs.select("doc_id", F.size("shingles").alias("sz"))
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    truth = (
        inter.join(za, "id_a")
        .join(zb, "id_b")
        .where(
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            )
            >= D.MINHASH_THRESHOLD
        )
        .select("id_a", "id_b")
    )
    return _recall_stats(truth, cands)


# --- weighted MinHash (integer-weight consistent sampling) -----------------------


def _duck_weighted_shingles(k: int) -> str:
    """Non-distinct k-gram list (tf weights live in the multiplicities)."""
    return (
        f"CASE WHEN len(t) >= {k} THEN "
        f"[array_to_string(t[i:i+{k - 1}], ' ') "
        f"FOR i IN range(1, greatest(len(t)-{k - 1}, 0)+1)] "
        f"ELSE [array_to_string(t, ' ')] END"
    )


_WMH_CTES = f"""
toks AS (SELECT doc_id, {_T} AS t FROM documents),
wshl AS (SELECT doc_id, unnest({_duck_weighted_shingles(3)}) AS g FROM toks),
wtf AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS w
        FROM wshl GROUP BY doc_id, g),
wsz AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS s FROM wtf GROUP BY doc_id)
"""


def _wmh_sig_ctes() -> str:
    hash_cols = ", ".join(
        f"MIN(md5('{i}:' || g || ':' || CAST(i2 AS VARCHAR))) AS h{i}"
        for i in range(_MINHASH_HASHES)
    )
    return f"""
rep AS (SELECT doc_id, g, unnest(range(1, CAST(w + 1 AS BIGINT))) AS i2 FROM wtf),
{_duck_lsh_candidates(hash_cols, "rep")}
"""


@register(
    "q_weighted_minhash",
    oracle=f"""
    WITH {_WMH_CTES}, {_wmh_sig_ctes()},
    m AS (SELECT c.id_a, c.id_b, CAST(SUM(LEAST(a.w, b.w)) AS BIGINT) AS m
          FROM cands c JOIN wtf a ON a.doc_id = c.id_a
                       JOIN wtf b ON b.doc_id = c.id_b AND b.g = a.g
          GROUP BY c.id_a, c.id_b),
    v AS (SELECT id_a, id_b, m, za.s + zb.s - m AS u
          FROM m JOIN wsz za ON id_a = za.doc_id
                 JOIN wsz zb ON id_b = zb.doc_id
          WHERE 3 * m >= za.s + zb.s)
    SELECT id_a, id_b, m AS w_inter, CAST(u AS BIGINT) AS w_union,
           CAST((2 * 1000000 * m + u) // (2 * u) AS BIGINT) AS jw_micro
    FROM v ORDER BY id_a, id_b
    """,
    description="WEIGHTED MinHash-LSH dedup over tf-weighted 3-shingles "
    "(the r6 VERDICT ask): for INTEGER tf weights, weighted Jaccard over "
    "(gram, w) multisets equals plain Jaccard over replica sets "
    "{(gram, 1..w)}, so min-hashing the replicas is an EXACT weighted "
    "MinHash (collision prob = weighted Jaccard) with zero "
    "transcendentals — the portable alternative to Ioffe's ICWS (which "
    "needs Gamma samples + exp/ln; real weights would require them, "
    "integer tf does not). Signatures are pure array transforms "
    "(map-side, no shuffle); banding and within-bucket joins reuse the "
    "unweighted LSH machinery; verification is the exact integer "
    "Sum-min / (Sa+Sb-Sum-min) with the >=0.5 threshold as the "
    "float-free 3m >= Sa+Sb comparison. SCALE: replica fan-out is "
    "Sum(w) = doc gram count (the cost of reading the doc), bucket "
    "joins bounded by band-key collisions — the production dedup shape",
    tags=("dedup", "text", "lsh", "weighted"),
)
def q_weighted_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.dedup import (
        weighted_minhash_sigs_from_tf, weighted_shingle_tf_rows,
    )

    d = table(spark, sf_dir, "documents")
    wtf = weighted_shingle_tf_rows(d, "doc_id", "text").persist()
    sig = weighted_minhash_sigs_from_tf(wtf, "doc_id", _MINHASH_HASHES)
    cands = _lsh_candidate_pairs(sig)
    sizes = wtf.groupBy("doc_id").agg(F.sum("w").cast("bigint").alias("s"))
    wa = wtf.select(F.col("doc_id").alias("id_a"), "g", F.col("w").alias("w_a"))
    wb = wtf.select(F.col("doc_id").alias("id_b"), "g", F.col("w").alias("w_b"))
    m = (
        cands.join(wa, "id_a")
        .join(wb, ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("w_a", "w_b")).cast("bigint").alias("m"))
    )
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("s").alias("s_a"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
    return (
        m.join(za, "id_a").join(zb, "id_b")
        .where(3 * F.col("m") >= F.col("s_a") + F.col("s_b"))
        .selectExpr(
            "id_a", "id_b", "m AS w_inter",
            "CAST(s_a + s_b - m AS BIGINT) AS w_union",
            "CAST((2 * 1000000 * m + (s_a + s_b - m))"
            " div (2 * (s_a + s_b - m)) AS BIGINT) AS jw_micro",
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "q_weighted_minhash_recall",
    oracle=f"""
    WITH {_WMH_CTES}, {_wmh_sig_ctes()},
    cm AS (SELECT c.id_a, c.id_b, CAST(SUM(LEAST(a.w, b.w)) AS BIGINT) AS m
           FROM cands c JOIN wtf a ON a.doc_id = c.id_a
                        JOIN wtf b ON b.doc_id = c.id_b AND b.g = a.g
           GROUP BY c.id_a, c.id_b),
    ver AS (SELECT id_a, id_b FROM cm
            JOIN wsz za ON id_a = za.doc_id JOIN wsz zb ON id_b = zb.doc_id
            WHERE 3 * m >= za.s + zb.s),
    tm AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(SUM(LEAST(a.w, b.w)) AS BIGINT) AS m
           FROM wtf a JOIN wtf b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY id_a, id_b),
    truth AS (SELECT id_a, id_b FROM tm
              JOIN wsz za ON id_a = za.doc_id JOIN wsz zb ON id_b = zb.doc_id
              WHERE 3 * m >= za.s + zb.s),
    s AS (SELECT """ + _RECALL_SELECT_DUCK,
    description="weighted-MinHash approximation-quality eval — the "
    "q_minhash_recall audit extended to the weighted family (r6 VERDICT "
    "ask): verified weighted-LSH pairs vs the EXACT weighted-Jaccard "
    ">=0.5 ground truth (all-pairs shared-shingle sum-min baseline), "
    "recall + candidate precision as round-half-away integer micro. "
    "SCALE: truth side is the quadratic eval baseline (sampled at "
    "scale, documented); the LSH side is the production path",
    tags=("dedup", "text", "lsh", "weighted", "ml-eval"),
)
def q_weighted_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.dedup import (
        weighted_minhash_sigs_from_tf, weighted_shingle_tf_rows,
    )

    d = table(spark, sf_dir, "documents")
    wtf = weighted_shingle_tf_rows(d, "doc_id", "text").persist()
    sig = weighted_minhash_sigs_from_tf(wtf, "doc_id", _MINHASH_HASHES)
    cands = _lsh_candidate_pairs(sig).localCheckpoint()  # feeds the count AND the verify join
    wtf = wtf.localCheckpoint()  # feeds sig, sizes AND the all-pairs truth join
    sizes = wtf.groupBy("doc_id").agg(F.sum("w").cast("bigint").alias("s"))
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("s").alias("s_a"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
    wa = wtf.select(F.col("doc_id").alias("id_a"), "g", F.col("w").alias("w_a"))
    wb = wtf.select(F.col("doc_id").alias("id_b"), "g", F.col("w").alias("w_b"))

    # Round-12: the verify pass is DERIVED from the truth pass (the
    # q_minhash_recall rewrite): ver == truth ∩ cands exactly — a
    # candidate pair with no shared gram produces no sum-min row (absent
    # from BOTH the old per-candidate aggregation and the all-pairs
    # truth), and a pair with shared grams gets the IDENTICAL integer
    # 3m >= s_a+s_b test on the identical SUM(LEAST(w_a, w_b)). The whole
    # second pair aggregation (cands ⋈ wtf ⋈ wtf + groupBy) is gone.
    truth = (
        wa.join(wb, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("w_a", "w_b")).cast("bigint").alias("m"))
        .join(za, "id_a").join(zb, "id_b")
        .where(3 * F.col("m") >= F.col("s_a") + F.col("s_b"))
        .select("id_a", "id_b")
    )
    return _recall_stats(truth, cands)


# --- word2vec negative-sampling table ---------------------------------------------

_NEG_K = 16
_NEG_CNT_CAP = 208_000  # cnt^3 stays exactly representable in DOUBLE (< 2^53)


@register(
    "q_negative_sampling",
    oracle=f"""
    WITH toks AS (SELECT unnest({_T}) AS token FROM documents),
    vocab AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM toks GROUP BY token),
    wv AS (SELECT token, cnt,
                  CAST(FLOOR(sqrt(sqrt(CAST(cnt AS DOUBLE) * cnt * cnt))
                             * 1000000) AS BIGINT) AS w
           FROM vocab),
    cum AS (SELECT token, cnt, w,
                   CAST(SUM(w) OVER (ORDER BY token
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cumw
            FROM wv),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM wv),
    draws AS (SELECT unnest(range(0, {_NEG_K})) AS i),
    targets AS (
      SELECT CAST(i AS INTEGER) AS i,
             CAST(('0x' || substr(md5('neg:' || CAST(i AS VARCHAR)), 1, 12))
                  AS BIGINT) % (SELECT tw FROM tot) AS target
      FROM draws),
    hit AS (SELECT t.i, t.target, MIN(c.token) AS token
            FROM targets t JOIN cum c ON c.cumw > t.target
            GROUP BY t.i, t.target)
    SELECT h.i, h.token, v.cnt, v.w AS weight_micro
    FROM hit h JOIN wv v ON v.token = h.token
    ORDER BY h.i
    """,
    description="word2vec-style NEGATIVE-SAMPLING table: vocabulary "
    "weights proportional to count^0.75 (Mikolov et al. 2013's unigram "
    "damping) computed WITHOUT transcendentals — c^0.75 == "
    "sqrt(sqrt(c^3)), and IEEE-754 sqrt is correctly rounded, so the "
    "weight is bit-identical on every engine while libm pow(c, 0.75) is "
    "not (the portable-ln lesson applied to pow; exactness of c^3 in "
    "DOUBLE bounds counts at 208k — guarded). Weights floor to integer "
    "micro; the cumulative table rides the two-pass distributed cumsum "
    "(no single-partition sort over the vocabulary); 16 seeded md5 "
    "draws (48-bit, partitioning-invariant, replayable) bucket into the "
    "cumulative ranges via a broadcast 16-row range join. SCALE: "
    "wordcount shuffle + two-pass cumsum + O(k) broadcast probes — the "
    "exact shape a billion-token skip-gram pipeline samples negatives "
    "with",
    tags=("text", "sampling", "embedding", "ml-train"),
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.dedup import ws_tokens
    from platform_etl_backend_spark.operators.ranking import two_pass_cumsum

    d = table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(ws_tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    c = F.col("cnt")
    guarded = F.when(c <= _NEG_CNT_CAP, c.cast("double")).otherwise(
        F.raise_error(
            F.lit(f"q_negative_sampling: count exceeds {_NEG_CNT_CAP}; "
                  "c^3 would lose exactness in DOUBLE — rescale weights")
        ).cast("double")
    )
    wv = vocab.select(
        "token", "cnt",
        F.floor(F.sqrt(F.sqrt(guarded * c * c)) * 1000000)
        .cast("bigint").alias("w"),
    ).persist()
    cum = two_pass_cumsum(wv, ["token"], ["w"], total_prefix="tot_")
    tot = wv.agg(F.sum("w").cast("bigint").alias("tw"))
    draws = spark.range(_NEG_K).select(F.col("id").cast("int").alias("i"))
    targets = draws.crossJoin(F.broadcast(tot)).select(
        "i",
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("neg:"), F.col("i").cast("string"))), 1, 12), 16, 10)
            .cast("bigint") % F.col("tw")
        ).alias("target"),
    )
    hit = (
        cum.join(F.broadcast(targets), F.col("cum_w") > F.col("target"))
        .groupBy("i", "target")
        .agg(F.min("token").alias("token"))
    )
    return (
        hit.join(wv, "token")
        .select("i", "token", "cnt", F.col("w").alias("weight_micro"))
        .orderBy("i")
    )


# --- inter-rater agreement (Cohen's kappa) -----------------------------------------


@register(
    "q_cohens_kappa",
    oracle=f"""
    WITH {_qc_scored_ctes()},
    r AS (SELECT CASE WHEN score > 0 THEN 1 ELSE 0 END AS a, label AS b
          FROM p),
    cm AS (SELECT
             CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
             CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM r),
    k AS (SELECT n00, n01, n10, n11, n,
                 n * (n00 + n11)
                   - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11))
                   AS num,
                 n * n
                   - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11))
                   AS den
          FROM cm)
    SELECT n, n00, n01, n10, n11,
           CAST((2 * 1000000 * (n00 + n11) + n) // (2 * n) AS BIGINT)
             AS po_micro,
           CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                * ((2 * 1000000 * ABS(num) + den) // (2 * den))
                AS BIGINT) AS kappa_micro
    FROM k
    """,
    description="Cohen's kappa inter-rater agreement between the trained "
    "quality classifier's decision (score > 0) and the lexical-diversity "
    "reference label — the labeling-pipeline QA statistic (chance-"
    "corrected agreement; kappa = (po - pe)/(1 - pe)) expressed ENTIRELY "
    "in exact integers: po and pe share the n-scaled contingency "
    "identity kappa = (n(n00+n11) - SUM marginal products) / (n^2 - SUM "
    "marginal products), one signed round-half-away micro division at "
    "the end (abs-first — signed integer division floors vs truncates "
    "across engines, the q_shapley_attribution lesson). SCALE: one "
    "map-side confusion rollup — a scalar frame",
    tags=("text", "quality", "ml-eval", "agreement"),
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _qc_scored_spark(spark, sf_dir)
    r = p.select(
        F.when(F.col("score") > 0, 1).otherwise(0).alias("a"),
        F.col("label").alias("b"),
    )
    cm = r.agg(
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0))
        .cast("bigint").alias("n00"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0))
        .cast("bigint").alias("n01"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0))
        .cast("bigint").alias("n10"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .cast("bigint").alias("n11"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    k = cm.selectExpr(
        "n", "n00", "n01", "n10", "n11",
        "n * (n00 + n11)"
        " - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11)) AS num",
        "n * n"
        " - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11)) AS den",
    )
    return k.selectExpr(
        "n", "n00", "n01", "n10", "n11",
        "CAST((2 * 1000000 * (n00 + n11) + n) div (2 * n) AS BIGINT) AS po_micro",
        "CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)"
        " * ((2 * 1000000 * ABS(num) + den) div (2 * den)) AS BIGINT)"
        " AS kappa_micro",
    )


# --- Brier score decomposition -----------------------------------------------------


@register(
    "q_brier_decomposition",
    oracle=f"""
    WITH {_qc_scored_ctes()},
    pr AS (SELECT doc_id, label,
                  (0.5 + 0.5 * (CAST(score AS DOUBLE) / 1000000)
                         / (1 + abs(CAST(score AS DOUBLE) / 1000000))) AS prob,
                  NTILE(10) OVER (ORDER BY score, doc_id) AS bin
           FROM p),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(label) AS BIGINT) AS npos
          FROM pr),
    bs AS (SELECT SUM(CAST(ROUND((prob - label) * (prob - label), 9)
                           AS DECIMAL(18,9))) AS sq
           FROM pr),
    pb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb,
                  SUM(CAST(ROUND(prob, 9) AS DECIMAL(18,9))) AS confsum,
                  CAST(SUM(label) AS BIGINT) AS accsum
           FROM pr GROUP BY bin),
    terms AS (
      SELECT CAST(ROUND(nb * ((CAST(confsum AS DOUBLE) / nb)
                              - (CAST(accsum AS DOUBLE) / nb))
                           * ((CAST(confsum AS DOUBLE) / nb)
                              - (CAST(accsum AS DOUBLE) / nb)), 9)
                  AS DECIMAL(18,9)) AS rel_t,
             CAST(ROUND(nb * ((CAST(accsum AS DOUBLE) / nb)
                              - (CAST((SELECT npos FROM g) AS DOUBLE)
                                 / (SELECT n FROM g)))
                           * ((CAST(accsum AS DOUBLE) / nb)
                              - (CAST((SELECT npos FROM g) AS DOUBLE)
                                 / (SELECT n FROM g))), 9)
                  AS DECIMAL(18,9)) AS res_t
      FROM pb)
    SELECT (SELECT n FROM g) AS n,
           ROUND(CAST((SELECT sq FROM bs) AS DOUBLE) / (SELECT n FROM g), 6)
             AS brier,
           ROUND(CAST(SUM(rel_t) AS DOUBLE) / (SELECT n FROM g), 6)
             AS reliability,
           ROUND(CAST(SUM(res_t) AS DOUBLE) / (SELECT n FROM g), 6)
             AS resolution,
           ROUND((CAST((SELECT npos FROM g) AS DOUBLE) / (SELECT n FROM g))
                 * (1 - CAST((SELECT npos FROM g) AS DOUBLE)
                        / (SELECT n FROM g)), 6) AS uncertainty
    FROM terms
    """,
    description="Brier score + Murphy (1973) decomposition for the "
    "quality classifier: probabilities from the integer micro logit via "
    "the Elliott sigmoid (IEEE-exact — the q_logreg_gd activation, no "
    "libm exp), score-decile bins by the SAME tie-broken NTILE as "
    "q_calibration_bins (two-pass distributed rank on the Spark side), "
    "Brier = REL - RES + UNC with reliability/resolution/uncertainty "
    "each a rounded-then-decimal-summed fixed-order expression — the "
    "pytest asserts the decomposition identity numerically. SCALE: one "
    "two-pass ntile + a 10-bin rollup + scalar frames",
    tags=("text", "quality", "ml-eval", "calibration"),
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.ranking import two_pass_ntile

    p = _qc_scored_spark(spark, sf_dir)
    z = F.col("score").cast("double") / 1000000
    binned = two_pass_ntile(
        p.select("doc_id", "label", "score"), ["score", "doc_id"], 10,
        bucket_col="bin",
    ).select(
        "label", "bin",
        (0.5 + 0.5 * (F.col("score").cast("double") / 1000000)
         / (1 + F.abs(F.col("score").cast("double") / 1000000))).alias("prob"),
    ).localCheckpoint(eager=False)  # feeds the global frame, the brier sum, and bins
    g = binned.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("npos"),
    )
    bs = binned.agg(
        F.sum(
            F.round((F.col("prob") - F.col("label"))
                    * (F.col("prob") - F.col("label")), 9).cast("decimal(18,9)")
        ).alias("sq")
    )
    pb = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum(F.round("prob", 9).cast("decimal(18,9)")).alias("confsum"),
        F.sum("label").cast("bigint").alias("accsum"),
    )
    ybar = F.col("npos").cast("double") / F.col("n")
    conf_b = F.col("confsum").cast("double") / F.col("nb")
    acc_b = F.col("accsum").cast("double") / F.col("nb")
    terms = pb.crossJoin(F.broadcast(g)).select(
        F.round(F.col("nb") * (conf_b - acc_b) * (conf_b - acc_b), 9)
        .cast("decimal(18,9)").alias("rel_t"),
        F.round(F.col("nb") * (acc_b - ybar) * (acc_b - ybar), 9)
        .cast("decimal(18,9)").alias("res_t"),
    )
    return (
        terms.agg(
            F.sum("rel_t").alias("rel_s"), F.sum("res_t").alias("res_s")
        )
        .crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(bs))
        .select(
            "n",
            F.round(F.col("sq").cast("double") / F.col("n"), 6).alias("brier"),
            F.round(F.col("rel_s").cast("double") / F.col("n"), 6)
            .alias("reliability"),
            F.round(F.col("res_s").cast("double") / F.col("n"), 6)
            .alias("resolution"),
            F.round(ybar * (1 - ybar), 6).alias("uncertainty"),
        )
    )


# --- n-gram novelty ----------------------------------------------------------------


@register(
    "q_ngram_novelty",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    firsts AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle),
    per AS (
      SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM sh s JOIN firsts f ON s.shingle = f.shingle
      GROUP BY s.doc_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, n_types, n_novel,
           CAST((2 * 1000000 * n_novel + n_types) // (2 * n_types)
                AS BIGINT) AS novelty_micro
    FROM per ORDER BY doc_id
    """,
    description="per-document n-gram novelty: the share of a doc's "
    "distinct word trigrams whose corpus-wide FIRST occurrence (min "
    "doc_id — the ingestion-order convention) is this document. The "
    "training-curriculum diversity signal: a stream of near-zero-novelty "
    "docs is a crawl loop; high novelty marks content worth keeping "
    "(complements q_dup_spans' memorization view). Micro share is "
    "round-half-away integer arithmetic (the q_stupid_backoff rule). "
    "SCALE: one shingle-keyed exchange (first_doc = window min over the "
    "shingle partition — the rollup+join-back form paid the exchange "
    "twice and scanned the corpus twice) + a doc-keyed rollup — all "
    "content-hash shuffles, no global order",
    tags=("text", "dedup", "quality"),
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sh = D.exploded_shingles(docs, "doc_id", "text", 3)
    # first_doc as a window min over the shingle-keyed exchange the join
    # formulation needed anyway: the groupBy(min)+join-back planned TWO
    # scans+explodes of the corpus (the agg subtree and the join probe
    # side are not canonically equal, so the exchange is not reused) —
    # the window is one scan, one exchange, same values
    first = sh.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("shingle"))
    )
    per = (
        first
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).cast("bigint").alias("n_novel"),
        )
    )
    return per.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_types",
        "n_novel",
        F.expr(
            "CAST((2 * 1000000 * n_novel + n_types) div (2 * n_types) AS BIGINT)"
        ).alias("novelty_micro"),
    ).orderBy("doc_id")


# --- Heaps' law vocabulary growth ---------------------------------------------------

_HEAPS_LN_N = duck_portable_ln_ratio("n_tokens", "1")
_HEAPS_LN_V = duck_portable_ln_ratio("n_types", "1")


@register(
    "q_heaps_law",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_T} AS t FROM documents),
    lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok FROM toks),
    sh AS (SELECT doc_id, unnest({_duck_shingles(3)}) AS shingle FROM toks),
    firsts AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle),
    mx AS (SELECT MAX(doc_id) + 1 AS m FROM lens),
    cp AS (SELECT j, (j * (SELECT m FROM mx)) // 4 AS thr
           FROM (SELECT unnest([1, 2, 3, 4]) AS j)),
    pts AS (
      SELECT cp.j, cp.thr,
             (SELECT CAST(SUM(n_tok) AS BIGINT) FROM lens
              WHERE doc_id < cp.thr) AS n_tokens,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts
              WHERE first_doc < cp.thr) AS n_types
      FROM cp),
    logs AS (
      SELECT j, thr, n_tokens, n_types,
             CAST(round({_HEAPS_LN_N}, 9) AS DECIMAL(28,9)) AS u,
             CAST(round({_HEAPS_LN_V}, 9) AS DECIMAL(28,9)) AS v
      FROM pts),
    prods AS (
      SELECT j, thr, n_tokens, n_types, u, v,
             CAST(round(CAST(u AS DOUBLE) * CAST(v AS DOUBLE), 9)
                  AS DECIMAL(28,9)) AS uv,
             CAST(round(CAST(u AS DOUBLE) * CAST(u AS DOUBLE), 9)
                  AS DECIMAL(28,9)) AS uu
      FROM logs),
    ols AS (
      SELECT ROUND((4 * CAST(SUM(uv) AS DOUBLE)
                    - CAST(SUM(u) AS DOUBLE) * CAST(SUM(v) AS DOUBLE))
                   / (4 * CAST(SUM(uu) AS DOUBLE)
                      - CAST(SUM(u) AS DOUBLE) * CAST(SUM(u) AS DOUBLE)), 6)
               AS beta
      FROM prods)
    SELECT CAST(j AS BIGINT) AS checkpoint, CAST(thr AS BIGINT) AS thr_doc,
           n_tokens, n_types, (SELECT beta FROM ols) AS heaps_beta
    FROM prods ORDER BY checkpoint
    """,
    description="Heaps'-law vocabulary-growth fit over the trigram type "
    "space (V = K*N^beta — the corpus-health curve: beta collapsing "
    "toward 0 means the crawl is re-reading itself, the aggregate twin "
    "of q_ngram_novelty): 4 prefix checkpoints over the doc-id space, "
    "V(j) counted from the shingle FIRST-OCCURRENCE frame (one min-"
    "rollup reused across checkpoints — never 4 repeated DISTINCTs), "
    "N(j) from per-doc token counts, beta by closed-form OLS on the "
    "portable-ln log-log points (DECIMAL(28,9) contributions). SCALE: "
    "one shingle min-rollup + one doc-length rollup + a 4-row fit",
    tags=("text", "quality", "corpus-stats"),
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.functions.portable_math import portable_ln_ratio

    d = table(spark, sf_dir, "documents")
    lens = d.select(
        "doc_id", F.size(D.ws_tokens("text")).cast("bigint").alias("n_tok")
    )
    firsts = (
        D.exploded_shingles(d, "doc_id", "text", 3)
        .groupBy("shingle")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    mx = lens.agg((F.max("doc_id") + 1).alias("m"))
    cp = (
        spark.range(1, 5)
        .select(F.col("id").alias("j"))
        .crossJoin(F.broadcast(mx))
        .select("j", F.expr("(j * m) div 4").alias("thr"))
    )

    # Each row lands in the SMALLEST checkpoint containing it (a CASE over
    # the broadcast scalar m), so both big frames are passed ONCE and the
    # per-checkpoint cumulative sums run on the <=4-row bucket rollups —
    # the former crossJoin(cp) replicated lens and the distinct-shingle
    # frame 4x each just to re-filter them per threshold.
    def _bucket(col: str):
        b = None
        for j in range(1, 5):
            cond = F.col(col) < F.expr(f"({j} * m) div 4")
            b = F.when(cond, j) if b is None else b.when(cond, j)
        return b  # doc ids are < m by construction, so always 1..4

    tok_b = (
        lens.crossJoin(F.broadcast(mx))
        .groupBy(_bucket("doc_id").alias("jb"))
        .agg(F.sum("n_tok").cast("bigint").alias("tk"))
    )
    typ_b = (
        firsts.crossJoin(F.broadcast(mx))
        .groupBy(_bucket("first_doc").alias("jb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("ty"))
    )
    n_tok = (
        cp.join(F.broadcast(tok_b), F.col("jb") <= F.col("j"))
        .groupBy("j", "thr")
        .agg(F.sum("tk").cast("bigint").alias("n_tokens"))
    )
    n_typ = (
        cp.join(F.broadcast(typ_b), F.col("jb") <= F.col("j"))
        .groupBy("j")
        .agg(F.sum("ty").cast("bigint").alias("n_types"))
    )
    pts = n_tok.join(n_typ, "j")
    logs = pts.select(
        "j", "thr", "n_tokens", "n_types",
        F.round(portable_ln_ratio(F.col("n_tokens"), F.lit(1)), 9)
        .cast("decimal(28,9)").alias("u"),
        F.round(portable_ln_ratio(F.col("n_types"), F.lit(1)), 9)
        .cast("decimal(28,9)").alias("v"),
    )
    prods = logs.select(
        "*",
        F.round(F.col("u").cast("double") * F.col("v").cast("double"), 9)
        .cast("decimal(28,9)").alias("uv"),
        F.round(F.col("u").cast("double") * F.col("u").cast("double"), 9)
        .cast("decimal(28,9)").alias("uu"),
    ).localCheckpoint(eager=False)
    # prods (4 rows, but its lineage holds the corpus explode) feeds BOTH
    # the OLS aggregate and the final projection — without the cut the
    # whole pipeline executed twice; lazy checkpoint because the OLS side
    # is a broadcast build (the unigram/DSIR pattern)
    ols = prods.agg(
        F.expr(
            "ROUND((4 * CAST(SUM(uv) AS DOUBLE)"
            " - CAST(SUM(u) AS DOUBLE) * CAST(SUM(v) AS DOUBLE))"
            " / (4 * CAST(SUM(uu) AS DOUBLE)"
            " - CAST(SUM(u) AS DOUBLE) * CAST(SUM(u) AS DOUBLE)), 6)"
        ).alias("heaps_beta")
    )
    return (
        prods.select(
            F.col("j").cast("bigint").alias("checkpoint"),
            F.col("thr").cast("bigint").alias("thr_doc"),
            "n_tokens", "n_types",
        )
        .crossJoin(F.broadcast(ols))
        .orderBy("checkpoint")
    )


# --- multinomial naive Bayes --------------------------------------------------------

_NB_COST_LN = duck_portable_ln_ratio("c_ws + 1", "tot_s + vocab_n")
_NB_PRIOR_LN = duck_portable_ln_ratio("n_s", "n_docs")
# corpus contract: the source label space (testdata generates src0..src19 at
# every SF). The ORACLE derives classes from the data; the Spark plan uses
# this literal list only to pivot class scores into columns — a missing
# class would hash-mismatch at the oracle gate, never pass silently.
_NB_CLASSES = tuple(f"src{i}" for i in range(20))


def _nb_class_sums(classes: list[str]) -> list[Column]:
    """Per class s, the doc's summed ``tf * c_s`` word costs as ``s_{s}``."""
    return [
        F.sum(F.col("tf") * F.col(f"c_{s}")).cast("bigint").alias(f"s_{s}")
        for s in classes
    ]


def _nb_predicted(classes: list[str]) -> Column:
    """The class with the highest ``s_{s} + p_{s}``, ties to the first of
    ``classes`` (sorted ascending)."""
    return F.greatest(
        *[
            F.struct(
                (F.col(f"s_{s}") + F.col(f"p_{s}")).alias("score"),
                F.lit(-i).alias("ni"),
                F.lit(s).alias("s"),
            )
            for i, s in enumerate(classes)
        ]
    ).getField("s")


@register(
    "q_naive_bayes",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, unnest({_T}) AS w FROM documents),
    tf AS (SELECT doc_id, source, w, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, source, w),
    vocab AS (SELECT DISTINCT w FROM tf),
    vn AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_n FROM vocab),
    cls AS (SELECT source AS s, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_s,
                   CAST(SUM(tf) AS BIGINT) AS tot_s
            FROM tf GROUP BY source),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
    cw AS (SELECT source AS s, w, CAST(SUM(tf) AS BIGINT) AS c_ws
           FROM tf GROUP BY source, w),
    grid AS (
      SELECT cls.s, v.w, cls.tot_s, COALESCE(cw.c_ws, 0) AS c_ws
      FROM cls CROSS JOIN vocab v
      LEFT JOIN cw ON cw.s = cls.s AND cw.w = v.w),
    cost AS (
      SELECT s, w,
             CAST(round({_NB_COST_LN} * 1000000) AS BIGINT) AS cost_micro
      FROM grid, vn),
    prior AS (
      SELECT s, CAST(round({_NB_PRIOR_LN} * 1000000) AS BIGINT) AS prior_micro
      FROM cls, nd),
    scores AS (
      SELECT tf.doc_id, tf.source AS actual, cost.s,
             CAST(SUM(tf.tf * cost.cost_micro) AS BIGINT)
               + MIN(prior.prior_micro) AS score
      FROM tf JOIN cost ON tf.w = cost.w
      JOIN prior ON prior.s = cost.s
      GROUP BY tf.doc_id, tf.source, cost.s),
    pred AS (
      SELECT doc_id, actual, s AS predicted,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, s) AS rn
      FROM scores)
    SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred WHERE rn = 1
    GROUP BY actual, predicted ORDER BY actual, predicted
    """,
    description="multinomial naive Bayes source classifier (resubstitution "
    "confusion matrix — the content-provenance screen: can the token "
    "mixture identify the source at all, and which sources collapse into "
    "each other): Laplace-smoothed per-class word log-costs on the "
    "engine-portable ratio ln, committed at integer micro-nats; scoring "
    "is pure BIGINT tf*cost sums + class prior; argmax by (score desc, "
    "class) argmax. SCALE: the cost table pivots to ONE broadcast row "
    "per word with a literal class column each (hash features per "
    "q_feature_hashing past ~1e6 cells); per-class scores fold map-side "
    "in a single doc-keyed rollup — no |tf| x |classes| shuffle fan-out "
    "— then one greatest() argmax and the bounded confusion rollup",
    tags=("text", "ml-train", "classification"),
)
def q_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.functions.portable_math import portable_ln_ratio

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.explode(D.ws_tokens("text")).alias("w")
    )
    # Round-11: ONE explode pass. tf carries source (functional on
    # doc_id, so the group count is unchanged) and is persisted; the
    # class-conditional counts then aggregate from the persisted tf frame
    # (SUM(tf) == the former straight-off-the-token-scan COUNT) instead
    # of re-scanning + re-exploding the corpus a second time. The r7
    # lesson against materializing the 3.8M exploded TOKEN rows still
    # holds — tf is the much smaller distinct (doc, word) rollup.
    # Every doc contributes >= 1 token (split of a trimmed string is never
    # an empty list on either engine), so the oracle's COUNT(DISTINCT
    # doc_id) frames collapse to plain doc counts — computed from the
    # 1-row-per-doc table, never by shuffling the token frame.
    tf = toks.groupBy("doc_id", "source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    ).persist()
    cw = tf.groupBy(F.col("source").alias("s"), "w").agg(
        F.sum("tf").cast("bigint").alias("c_ws")
    ).persist()
    vocab = cw.select("w").distinct()
    vn = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("vocab_n"))
    cls = cw.groupBy("s").agg(F.sum("c_ws").cast("bigint").alias("tot_s")).join(
        d.groupBy(F.col("source").alias("s")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_s")
        ),
        "s",
    )
    nd = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    grid = (
        F.broadcast(cls).crossJoin(vocab)
        .join(cw, ["s", "w"], "left")
        .select(
            "s", "w", "tot_s", F.coalesce(F.col("c_ws"), F.lit(0)).alias("c_ws")
        )
    )
    cost = grid.crossJoin(F.broadcast(vn)).select(
        "s", "w",
        F.round(
            portable_ln_ratio(
                F.col("c_ws") + 1, F.col("tot_s") + F.col("vocab_n")
            ) * 1000000,
            0,
        ).cast("bigint").alias("cost_micro"),
    )
    prior = cls.crossJoin(F.broadcast(nd)).select(
        "s",
        F.round(
            portable_ln_ratio(F.col("n_s"), F.col("n_docs")) * 1000000, 0
        ).cast("bigint").alias("prior_micro"),
    )
    # Scoring plan: pivot the cost table to ONE broadcast row per word with
    # a literal class-column per source (_NB_CLASSES is a corpus contract,
    # like _RAG_QUERIES/_HRW_BASE) — the per-class sums then fold map-side
    # in a single doc-keyed rollup of |tf| skinny rows, instead of
    # exploding a |tf| x |classes| fan-out through the shuffle (first
    # formulation measured 6.5 s quiet at sf0.1; this shape is 4 jobs and
    # 2 data shuffles). Argmax over the literal columns is one greatest()
    # of (score, -idx, name) structs — classes sorted ascending so the
    # (score DESC, s ASC) oracle tie-break is reproduced exactly.
    classes = sorted(_NB_CLASSES)
    costp = (
        cost.groupBy("w")
        .pivot("s", classes)
        .agg(F.first("cost_micro"))
        .select("w", *[F.col(s).alias(f"c_{s}") for s in classes])
    )
    priorp = prior.groupBy().pivot("s", classes).agg(F.first("prior_micro")).select(
        *[F.col(s).alias(f"p_{s}") for s in classes]
    )
    per_doc = (
        tf.join(F.broadcast(costp), "w")
        .groupBy("doc_id", F.col("source").alias("actual"))
        .agg(*_nb_class_sums(classes))
        .crossJoin(F.broadcast(priorp))
    )
    return (
        per_doc.select("actual", _nb_predicted(classes).alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("actual", "predicted")
    )


# --- retrieval-quality eval (NDCG / MRR / precision@k) ------------------------------

_REVAL_TERMS = (
    "spark", "join", "window", "hash", "stream", "vector", "filter", "merge",
)
_REVAL_K1, _REVAL_B, _REVAL_TOPK = 1.2, 0.75, 10
# 1/log2(rank+1) gain discounts as shared 12-dp literals (the Benford
# shared-literal rule: a decimal literal parses to the same double in both
# engines, so no engine ever evaluates a transcendental here)
import math as _math  # noqa: E402

_REVAL_W = tuple(round(1.0 / _math.log2(i + 1), 12) for i in range(1, _REVAL_TOPK + 1))
_REVAL_W_SQL = ", ".join(f"({i + 1}, {w!r})" for i, w in enumerate(_REVAL_W))
_REVAL_IDF = duck_portable_ln_ratio("2 * n_docs + 2", "2 * df + 1")


# The retrieval evals' corpus: query terms q, per-doc term counts tf, doc
# lengths dl, term document frequencies dfreq and corpus totals g.
_REVAL_CORPUS_DUCK = f"""
    WITH q(term) AS (SELECT unnest({list(_REVAL_TERMS)!r})),
    toks AS (SELECT doc_id, unnest({_T}) AS w FROM documents),
    tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, w),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    dfreq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
"""

# The rel and score columns of the scored CTE (BM25 over the corpus CTEs),
# and its FROM clause.
_REVAL_SCORED_DUCK = f"""             CASE WHEN tf.tf >= 4 THEN 3 WHEN tf.tf >= 2 THEN 1 ELSE 0 END AS rel,
             ROUND({_REVAL_IDF}
                   * (tf.tf * ({_REVAL_K1} + 1))
                   / (tf.tf + {_REVAL_K1} * (1 - {_REVAL_B}
                      + {_REVAL_B} * dl.dl / avgdl)), 6) AS score
      FROM q JOIN tf ON q.term = tf.w
      JOIN dfreq ON dfreq.w = tf.w
      JOIN dl ON dl.doc_id = tf.doc_id, g),
"""


def _bm25_term_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (query term, doc containing it): ``tf``, doc length
    ``dl``, the term's ``df`` and the corpus ``n_docs`` and ``avgdl``."""
    d = table(spark, sf_dir, "documents")
    # Round-11 rewrite (guide §2.3, project/filter before the exchange):
    # only the 8 query terms' tf rows ever reach the scoring join, and a
    # doc's length equals size(tokens) (split of a trimmed string is never
    # an empty list, so dl = SUM(tf) over all words = the array length).
    # The former full-corpus (doc, word) rollup + per-doc dl rollup +
    # full-vocab dfreq collapse to: a map-side dl column carried through
    # the explode, a pre-shuffle isin filter down to the term set, and a
    # term-only dfreq — the full token stream never crosses an exchange
    # and the dl join disappears.
    toks = d.select(
        "doc_id",
        F.size(D.ws_tokens("text")).cast("bigint").alias("dl"),
        F.explode(D.ws_tokens("text")).alias("w"),
    )
    tf = (
        toks.where(F.col("w").isin(*_REVAL_TERMS))
        .groupBy("doc_id", "dl", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .persist()  # dfreq + scored both consume it: one corpus explode
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    g = d.select(F.size(D.ws_tokens("text")).cast("bigint").alias("dl")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    q = spark.createDataFrame([(t,) for t in _REVAL_TERMS], "term string")
    return (
        F.broadcast(q).join(tf, q.term == tf.w)
        .join(F.broadcast(dfreq), "w")  # vocab-bounded — safe at any scale
        .crossJoin(F.broadcast(g))
    )


def _bm25_score() -> Column:
    """BM25 of a term match (portable integer-ratio idf), rounded to 6 places."""
    idf = _portable_ln_ratio(2 * F.col("n_docs") + 2, 2 * F.col("df") + 1)
    sat = (F.col("tf") * (_REVAL_K1 + 1)) / (
        F.col("tf")
        + _REVAL_K1 * (1 - _REVAL_B + _REVAL_B * F.col("dl") / F.col("avgdl"))
    )
    return F.round(idf * sat, 6)


@register(
    "q_retrieval_eval",
    oracle=_REVAL_CORPUS_DUCK + """
    scored AS (
      SELECT q.term, tf.doc_id, tf.tf,
""" + _REVAL_SCORED_DUCK + f"""    ranked AS (
      SELECT term, doc_id, rel, score,
             ROW_NUMBER() OVER (PARTITION BY term
                                ORDER BY score DESC, doc_id) AS r
      FROM scored),
    ideal AS (
      SELECT term, rel,
             ROW_NUMBER() OVER (PARTITION BY term
                                ORDER BY rel DESC, doc_id) AS r
      FROM scored),
    wts(r, wt) AS (VALUES {_REVAL_W_SQL}),
    dcg AS (
      SELECT term,
             CAST(SUM(CAST(round(rel * wt, 9) AS DECIMAL(28,9))) AS DOUBLE) AS dcg,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
             MIN(CASE WHEN rel > 0 THEN r END) AS first_rel
      FROM ranked JOIN wts USING (r) WHERE r <= {_REVAL_TOPK}
      GROUP BY term),
    idcg AS (
      SELECT term,
             CAST(SUM(CAST(round(rel * wt, 9) AS DECIMAL(28,9))) AS DOUBLE) AS idcg
      FROM ideal JOIN wts USING (r) WHERE r <= {_REVAL_TOPK}
      GROUP BY term)
    SELECT dcg.term, dcg.n_rel AS n_rel_at10,
           CAST(COALESCE((2 * 1000000 + first_rel) // (2 * first_rel), 0)
                AS BIGINT) AS mrr_micro,
           CASE WHEN idcg.idcg > 0 THEN ROUND(dcg.dcg / idcg.idcg, 6) END
             AS ndcg_at10
    FROM dcg JOIN idcg USING (term) ORDER BY term
    """,
    description="retrieval-quality eval harness for the BM25 ranking "
    "family (the judge for q_bm25/q_rag: NDCG@10, MRR, precision-count"
    "@10 per query against graded tf-derived relevance): BM25 scores on "
    "the portable integer-ratio idf; gain discounts 1/log2(rank+1) ride "
    "as shared 12-dp decimal literals so NO engine evaluates a "
    "transcendental; DCG/IDCG as DECIMAL(28,9) contributions; MRR as "
    "round-half-away integer micro. SCALE: per-term windows are "
    "key-parallel (8 query terms x bounded top-k); the doc-frequency "
    "and length frames are corpus rollups shared across terms",
    tags=("text", "retrieval", "ml-eval"),
)
def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = (
        _bm25_term_matches(spark, sf_dir)
        .select(
            "term", "doc_id",
            F.when(F.col("tf") >= 4, 3)
            .when(F.col("tf") >= 2, 1)
            .otherwise(0).alias("rel"),
            _bm25_score().alias("score"),
        )
    ).persist()
    wts = spark.createDataFrame(
        [(i + 1, w) for i, w in enumerate(_REVAL_W)], "r bigint, wt double"
    )
    w_rank = Window.partitionBy("term").orderBy(F.desc("score"), "doc_id")
    w_ideal = Window.partitionBy("term").orderBy(F.desc("rel"), "doc_id")
    ranked = scored.withColumn("r", F.row_number().over(w_rank).cast("bigint"))
    ideal = scored.withColumn("r", F.row_number().over(w_ideal).cast("bigint"))
    dcg = (
        ranked.where(F.col("r") <= _REVAL_TOPK)
        .join(F.broadcast(wts), "r")
        .groupBy("term")
        .agg(
            F.sum(F.round(F.col("rel") * F.col("wt"), 9).cast("decimal(28,9)"))
            .cast("double").alias("dcg"),
            F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
            .cast("bigint").alias("n_rel_at10"),
            F.min(F.when(F.col("rel") > 0, F.col("r"))).alias("first_rel"),
        )
    )
    idcg = (
        ideal.where(F.col("r") <= _REVAL_TOPK)
        .join(F.broadcast(wts), "r")
        .groupBy("term")
        .agg(
            F.sum(F.round(F.col("rel") * F.col("wt"), 9).cast("decimal(28,9)"))
            .cast("double").alias("idcg")
        )
    )
    return (
        dcg.join(idcg, "term")
        .selectExpr(
            "term", "n_rel_at10",
            "CAST(COALESCE((2 * 1000000 + first_rel) div (2 * first_rel), 0)"
            " AS BIGINT) AS mrr_micro",
            "CASE WHEN idcg > 0 THEN ROUND(dcg / idcg, 6) END AS ndcg_at10",
        )
        .orderBy("term")
    )


# --- cumulative gains / lift curve --------------------------------------------------


@register(
    "q_lift_curve",
    oracle=f"""
    WITH {_qc_scored_ctes()},
    d AS (
      SELECT label, NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile
      FROM p),
    per AS (
      SELECT decile, COUNT(*) AS n, SUM(label) AS n_pos
      FROM d GROUP BY decile),
    cum AS (
      SELECT decile, n, n_pos,
             SUM(n) OVER w AS cum_n, SUM(n_pos) OVER w AS cum_pos,
             SUM(n) OVER () AS tot_n, SUM(n_pos) OVER () AS tot_pos
      FROM per WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW))
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
           CAST(cum_pos AS BIGINT) AS cum_pos,
           CAST((2 * 1000000 * cum_pos * tot_n + cum_n * tot_pos)
                // (2 * cum_n * tot_pos) AS BIGINT) AS lift_micro,
           CAST((2 * 1000000 * cum_pos + tot_pos)
                // (2 * tot_pos) AS BIGINT) AS gain_micro
    FROM cum ORDER BY decile
    """,
    description="cumulative gains + lift curve of the quality classifier "
    "(the targeting-efficiency eval beside ROC-AUC/calibration: how many "
    "positives the top-k score deciles capture vs chance): deciles via "
    "the TWO-PASS distributed NTILE over (score desc, doc_id) — no O(n) "
    "single-partition sort — cumulative lift = (cum_pos/cum_n)/"
    "(tot_pos/tot_n) and recall-gain as round-half-away integer micro on "
    "exact integer cross-products (HUGEINT in the oracle, DECIMAL(38,0)-"
    "class headroom documented for cluster scale). SCALE: the cumulative "
    "window runs on the 10-row decile frame only",
    tags=("text", "ml-eval", "classification"),
)
def q_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.ranking import two_pass_ntile

    p = _qc_scored_spark(spark, sf_dir).select(
        "label", "score", "doc_id", (-F.col("score")).alias("nscore")
    )
    d = two_pass_ntile(p, ["nscore", "doc_id"], 10, bucket_col="decile")
    per = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").alias("n_pos")
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = per.select(
        "decile", "n", "n_pos",
        F.sum("n").over(w).cast("decimal(19,0)").alias("cum_n"),
        F.sum("n_pos").over(w).cast("decimal(19,0)").alias("cum_pos"),
        F.sum("n").over(wt).cast("decimal(19,0)").alias("tot_n"),
        F.sum("n_pos").over(wt).cast("decimal(19,0)").alias("tot_pos"),
    )
    return cum.selectExpr(
        "CAST(decile AS INTEGER) AS decile",
        "CAST(n AS BIGINT) AS n",
        "CAST(n_pos AS BIGINT) AS n_pos",
        "CAST(cum_pos AS BIGINT) AS cum_pos",
        "CAST((2 * 1000000 * cum_pos * tot_n + cum_n * tot_pos)"
        " div (2 * cum_n * tot_pos) AS BIGINT) AS lift_micro",
        "CAST((2 * 1000000 * cum_pos + tot_pos)"
        " div (2 * tot_pos) AS BIGINT) AS gain_micro",
    ).orderBy("decile")


# --- tokenizer fertility eval -------------------------------------------------------

_FERT_FINAL = f"""SELECT source,
           CAST(SUM(tf) AS BIGINT) AS n_words,
           CAST(SUM(tf * np) AS BIGINT) AS n_pieces,
           CAST((2 * 1000000 * SUM(tf * np) + SUM(tf)) // (2 * SUM(tf))
                AS BIGINT) AS fertility_micro,
           CAST((2 * 1000000 * SUM(tf * (np - 1)) + SUM(tf * np))
                // (2 * SUM(tf * np)) AS BIGINT) AS continuation_micro
    FROM tf JOIN seg ON tf.word = seg.word
    GROUP BY source ORDER BY source"""


def _fertility_sql(tok_cte: str, contains: str, idiv: str) -> str:
    final = (
        f""", seg AS (
      SELECT word, CAST(length(out{_WP_STEPS})
             - length(replace(out{_WP_STEPS}, '|', '')) AS BIGINT) AS np
      FROM s{_WP_STEPS}),
    tf AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY source, word)
    """
        + _FERT_FINAL.replace("//", idiv)
    )
    return _wordpiece_sql(tok_cte, contains, final=final)


@register(
    "q_token_fertility",
    oracle=_fertility_sql(
        "tok AS (SELECT source, unnest(string_split_regex(trim(text), ' +'))"
        " AS word FROM documents),\n"
        "    w0 AS (SELECT DISTINCT word FROM tok)",
        _WP_DUCK_CONTAINS,
        "//",
    ),
    description="tokenizer fertility per source (pieces per word + "
    "continuation-piece share under the committed WordPiece vocabulary — "
    "the tokenizer-efficiency eval that decides vocab size and flags "
    "sources the tokenizer fragments, i.e. the compute cost of keeping "
    "them in the mixture): the unrolled greedy segmentation runs ONCE on "
    "the DISTINCT-WORD frame (the _wordpiece_sql final-override pattern), "
    "re-attached to the corpus by one vocabulary join; ratios are "
    "round-half-away integer micro. SCALE: segmentation cost is "
    "vocabulary-sized; the corpus side is one (source, word) rollup",
    tags=("text", "tokenizer", "ml-eval"),
)
def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents_fert")
    return spark.sql(
        _fertility_sql(
            "tok AS (SELECT source, explode(split(trim(text), ' +'))"
            " AS word FROM documents_fert),\n"
            "    w0 AS (SELECT DISTINCT word FROM tok)",
            _WP_SPARK_CONTAINS,
            "div",
        )
    )


# --- k-fold cross-validated naive Bayes ---------------------------------------------

_NBCV_FOLDS = 4
_NBCV_COST_LN = duck_portable_ln_ratio("c_ws + 1", "tot_s + vocab_n")
# priors are Laplace-smoothed too: a small class can land entirely in
# one fold, and ln(0) is garbage BOTH engines would agree on (the
# python twin caught it — the oracle gate cannot see shared nonsense)
_NBCV_PRIOR_LN = duck_portable_ln_ratio(
    "st.n_tot - COALESCE(dc.nd, 0) + 1", "n_docs - ft.nf + n_classes"
)


@register(
    "q_nb_crossval",
    oracle=f"""
    WITH toks AS (SELECT doc_id, doc_id % {_NBCV_FOLDS} AS fold, source,
                         unnest({_T}) AS w
                  FROM documents),
    tf AS (SELECT doc_id, fold, source, w, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, fold, source, w),
    vocab AS (SELECT DISTINCT w FROM toks),
    vn AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_n FROM vocab),
    cwf AS (SELECT fold, source AS s, w, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks GROUP BY fold, source, w),
    cwt AS (SELECT s, w, CAST(SUM(c) AS BIGINT) AS c FROM cwf GROUP BY s, w),
    folds AS (SELECT unnest(range(0, {_NBCV_FOLDS})) AS fold),
    grid AS (
      SELECT f.fold, cls.s, v.w,
             CAST(cwt.c - COALESCE(cf.c, 0) AS BIGINT) AS c_ws
      FROM folds f
      CROSS JOIN (SELECT DISTINCT s FROM cwt) cls
      CROSS JOIN vocab v
      LEFT JOIN cwt ON cwt.s = cls.s AND cwt.w = v.w
      LEFT JOIN cwf cf ON cf.fold = f.fold AND cf.s = cls.s AND cf.w = v.w),
    tot AS (SELECT fold, s, CAST(SUM(c_ws) AS BIGINT) AS tot_s
            FROM grid GROUP BY fold, s),
    cost AS (
      SELECT g.fold, g.s, g.w,
             CAST(round({_NBCV_COST_LN} * 1000000) AS BIGINT) AS cost_micro
      FROM (SELECT fold, s, w, COALESCE(c_ws, 0) AS c_ws FROM grid) g
      JOIN tot ON tot.fold = g.fold AND tot.s = g.s, vn),
    dc AS (SELECT doc_id % {_NBCV_FOLDS} AS fold, source, COUNT(*) AS nd
           FROM documents GROUP BY 1, 2),
    fold_tot AS (SELECT fold, CAST(SUM(nd) AS BIGINT) AS nf FROM dc GROUP BY fold),
    all_tot AS (SELECT CAST(SUM(nd) AS BIGINT) AS n_docs FROM dc),
    src_tot AS (SELECT source, CAST(SUM(nd) AS BIGINT) AS n_tot
                FROM dc GROUP BY source),
    ncls AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_classes FROM src_tot),
    prior AS (
      SELECT f.fold, st.source AS s,
             CAST(round({_NBCV_PRIOR_LN} * 1000000) AS BIGINT) AS prior_micro
      FROM folds f
      CROSS JOIN src_tot st
      LEFT JOIN dc ON dc.fold = f.fold AND dc.source = st.source
      JOIN fold_tot ft ON ft.fold = f.fold
      CROSS JOIN all_tot CROSS JOIN ncls),
    scores AS (
      SELECT tf.doc_id, tf.fold, tf.source AS actual, cost.s,
             CAST(SUM(tf.tf * cost.cost_micro) AS BIGINT)
               + MIN(prior.prior_micro) AS score
      FROM tf JOIN cost ON cost.fold = tf.fold AND cost.w = tf.w
      JOIN prior ON prior.fold = tf.fold AND prior.s = cost.s
      GROUP BY tf.doc_id, tf.fold, tf.source, cost.s),
    pred AS (
      SELECT fold, actual, s AS predicted,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, s) AS rn
      FROM scores)
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN actual = predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST((2 * 1000000 * SUM(CASE WHEN actual = predicted
                                        THEN 1 ELSE 0 END) + COUNT(*))
                // (2 * COUNT(*)) AS BIGINT) AS accuracy_micro
    FROM pred WHERE rn = 1
    GROUP BY fold ORDER BY fold
    """,
    description="4-fold cross-validated naive Bayes (the LEAK-FREE twin "
    "of q_naive_bayes's resubstitution matrix — the honest accuracy "
    "number): per-fold training counts come from the COMPLEMENT trick "
    "(global rollup minus the fold's own rollup — one pass over the "
    "corpus trains ALL folds simultaneously, never k re-scans), Laplace "
    "smoothing over the global vocabulary, scoring per doc against its "
    "own fold's held-out model. SCALE: the per-fold cost table is "
    "O(folds x classes x vocab) broadcast; scoring reuses the "
    "q_naive_bayes pivot shape keyed (fold, word); accuracy is one "
    "bounded rollup",
    tags=("text", "ml-train", "ml-eval", "classification"),
)
def q_nb_crossval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.functions.portable_math import portable_ln_ratio

    d = table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % _NBCV_FOLDS).alias("fold"), "source", "text"
    )
    toks = d.select(
        "doc_id", "fold", "source", F.explode(D.ws_tokens("text")).alias("w")
    )
    # ONE explode pass (round-11, same shape as q_naive_bayes): tf
    # carries source and is persisted; the per-fold class counts are
    # SUM(tf) over the persisted rollup instead of a second corpus
    # explode.
    tf = toks.groupBy("doc_id", "fold", "source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    ).persist()
    cwf = tf.groupBy("fold", F.col("source").alias("s"), "w").agg(
        F.sum("tf").cast("bigint").alias("c")
    ).persist()
    cwt = cwf.groupBy("s", "w").agg(F.sum("c").cast("bigint").alias("c"))
    vocab = cwt.select("w").distinct()
    vn = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("vocab_n"))
    folds = spark.range(_NBCV_FOLDS).select(F.col("id").alias("fold"))
    grid = (
        vocab.crossJoin(
            F.broadcast(folds.crossJoin(cwt.select("s").distinct()))
        )
        .join(cwt, ["s", "w"], "left")
        .join(
            cwf.selectExpr("fold", "s", "w", "c AS cf"), ["fold", "s", "w"], "left"
        )
        .select(
            "fold", "s", "w",
            (F.coalesce(F.col("c"), F.lit(0))
             - F.coalesce(F.col("cf"), F.lit(0))).cast("bigint").alias("c_ws"),
        )
    )
    tot = grid.groupBy("fold", "s").agg(
        F.sum("c_ws").cast("bigint").alias("tot_s")
    )
    cost = (
        grid.join(tot, ["fold", "s"])
        .crossJoin(F.broadcast(vn))
        .select(
            "fold", "s", "w",
            F.round(
                portable_ln_ratio(
                    F.col("c_ws") + 1, F.col("tot_s") + F.col("vocab_n")
                ) * 1000000,
                0,
            ).cast("bigint").alias("cost_micro"),
        )
    )
    dc = d.groupBy("fold", "source").agg(F.count(F.lit(1)).alias("nd"))
    dtot = dc.groupBy("source").agg(F.sum("nd").cast("bigint").alias("n_tot"))
    ftot = dc.groupBy("fold").agg(F.sum("nd").cast("bigint").alias("nf"))
    nall = dc.agg(F.sum("nd").cast("bigint").alias("n_docs"))
    ncls = dtot.agg(F.count(F.lit(1)).cast("bigint").alias("n_classes"))
    prior = (
        folds.crossJoin(F.broadcast(dtot))
        .join(dc.selectExpr("fold", "source", "nd"), ["fold", "source"], "left")
        .join(ftot, "fold")
        .crossJoin(F.broadcast(nall))
        .crossJoin(F.broadcast(ncls))
        .select(
            "fold", F.col("source").alias("s"),
            F.round(
                portable_ln_ratio(
                    F.col("n_tot") - F.coalesce(F.col("nd"), F.lit(0)) + 1,
                    F.col("n_docs") - F.col("nf") + F.col("n_classes"),
                ) * 1000000,
                0,
            ).cast("bigint").alias("prior_micro"),
        )
    )
    classes = sorted(_NB_CLASSES)
    costp = (
        cost.groupBy("fold", "w")
        .pivot("s", classes)
        .agg(F.first("cost_micro"))
        .select("fold", "w", *[F.col(s).alias(f"c_{s}") for s in classes])
    )
    priorp = (
        prior.groupBy("fold")
        .pivot("s", classes)
        .agg(F.first("prior_micro"))
        .select("fold", *[F.col(s).alias(f"p_{s}") for s in classes])
    )
    per_doc = (
        tf.join(F.broadcast(costp), ["fold", "w"])
        .groupBy("doc_id", "fold", F.col("source").alias("actual"))
        .agg(*_nb_class_sums(classes))
        .join(F.broadcast(priorp), "fold")
    )
    return (
        per_doc.select("fold", "actual", _nb_predicted(classes).alias("predicted"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("actual") == F.col("predicted"), 1).otherwise(0))
            .cast("bigint").alias("n_correct"),
            F.expr(
                "CAST((2 * 1000000 * SUM(CASE WHEN actual = predicted THEN 1"
                " ELSE 0 END) + COUNT(*)) div (2 * COUNT(*)) AS BIGINT)"
            ).alias("accuracy_micro"),
        )
        .select(F.col("fold").cast("bigint").alias("fold"), "n_docs",
                "n_correct", "accuracy_micro")
        .orderBy("fold")
    )


# --- MAP@10 (average precision) -----------------------------------------------------

# lcm(1..10) — sum of cumrel_k/k terms becomes ONE exact integer over 2520
_AP_LCM = 2520


@register(
    "q_map_eval",
    oracle=_REVAL_CORPUS_DUCK + """
    scored AS (
      SELECT q.term, tf.doc_id,
""" + _REVAL_SCORED_DUCK + f"""    ranked AS (
      SELECT term, CASE WHEN rel > 0 THEN 1 ELSE 0 END AS hit,
             ROW_NUMBER() OVER (PARTITION BY term
                                ORDER BY score DESC, doc_id) AS r
      FROM scored),
    rtot AS (
      SELECT term, CAST(SUM(hit) AS BIGINT) AS n_rel FROM ranked
      GROUP BY term),
    cum AS (
      SELECT term, r, hit,
             CAST(SUM(hit) OVER (PARTITION BY term ORDER BY r
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ch
      FROM ranked WHERE r <= {_REVAL_TOPK}),
    s AS (
      SELECT term,
             CAST(SUM(CASE WHEN hit = 1 THEN ch * ({_AP_LCM} // r)
                           ELSE 0 END) AS BIGINT) AS num
      FROM cum GROUP BY term)
    SELECT s.term, rtot.n_rel,
           CAST((2 * 1000000 * num + {_AP_LCM} * LEAST(rtot.n_rel, {_REVAL_TOPK}))
                // (2 * {_AP_LCM} * LEAST(rtot.n_rel, {_REVAL_TOPK}))
                AS BIGINT) AS ap_micro
    FROM s JOIN rtot ON s.term = rtot.term
    WHERE rtot.n_rel > 0 ORDER BY s.term
    """,
    description="average precision @10 per query (MAP's per-query grain — "
    "the order-sensitive judge completing NDCG/MRR/P@k): AP = "
    "mean over hit positions of precision@k, computed as ONE exact "
    "integer rational — each cumrel_k/k term scaled by lcm(1..10)=2520, "
    "so the sum is BIGINT and the final micro is round-half-away "
    "division (zero floats beyond the BM25 ranking itself). SCALE: same "
    "frame shapes as q_retrieval_eval — key-parallel per-term windows, "
    "vocab-bounded sides",
    tags=("text", "retrieval", "ml-eval"),
)
def q_map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _bm25_term_matches(spark, sf_dir).select(
        "term", "doc_id",
        F.when(F.col("tf") >= 2, 1).otherwise(0).alias("hit"),
        _bm25_score().alias("score"),
    )
    w_rank = Window.partitionBy("term").orderBy(F.desc("score"), "doc_id")
    ranked = scored.withColumn("r", F.row_number().over(w_rank).cast("bigint"))
    rtot = ranked.groupBy("term").agg(F.sum("hit").cast("bigint").alias("n_rel"))
    wc = Window.partitionBy("term").orderBy("r").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = ranked.where(F.col("r") <= _REVAL_TOPK).select(
        "term", "r", "hit", F.sum("hit").over(wc).cast("bigint").alias("ch")
    )
    s = cum.groupBy("term").agg(
        F.sum(
            F.when(F.col("hit") == 1, F.col("ch") * (_AP_LCM / F.col("r")).cast("bigint"))
            .otherwise(0)
        ).cast("bigint").alias("num")
    )
    return (
        s.join(rtot, "term")
        .where(F.col("n_rel") > 0)
        .selectExpr(
            "term", "n_rel",
            f"CAST((2 * 1000000 * num + {_AP_LCM} * LEAST(n_rel, {_REVAL_TOPK}))"
            f" div (2 * {_AP_LCM} * LEAST(n_rel, {_REVAL_TOPK})) AS BIGINT)"
            " AS ap_micro",
        )
        .orderBy("term")
    )
