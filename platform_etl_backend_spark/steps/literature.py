"""Literature step (core grounding + co-occurrence dataflow).

Reference (``backend/literature/*``): entity LUT built by NLP-normalizing
disease/target/drug names into ``labelN`` keys (Grounding.scala:405-564),
sentence-level match grounding (Grounding.scala:152-333), per-publication
relevance via section-weighted harmonic scores (Processing.scala:50-117),
Word2Vec embedding (steps/embedding.py), and EPMC evidence exports
(Epmc.scala:80-115, EpmcCooccurrences.scala:22-57).

This port re-expresses the pipeline with the Catalyst-only NLP stack
(operators/nlp.py): the labelN contract is identical; the Spark-NLP
annotator chain is replaced per SURVEY §7.3's native-ops strategy.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from platform_etl_backend_spark.functions.columns import harmonic_fn, word_ngrams_upto
from platform_etl_backend_spark.operators.nlp import label_key, reference_label_key


def _grounding_key(c, key_mode: str):
    """labelN key used by BOTH the LUT build and the sentence matcher —
    the two sides must always agree or the grounding join silently loses
    matches. ``key_mode='engine'`` is the default oracle-checkable pipeline
    (space-joined, regexp-chain stemmer); ``'reference'`` is the char-exact
    reference contract (operators/nlp.py reference_label_key: Google stop
    list, split-char tokenization, Porter, ''-joined — Grounding.scala
    parity, see tests/test_grounding_parity.py)."""
    if key_mode == "reference":
        return reference_label_key(c, "LT")
    if key_mode == "engine":
        return label_key(c)
    raise ValueError(f"key_mode must be 'engine' or 'reference', got {key_mode!r}")

# (section, rank, weight) — reference.conf:700-708 publication_section_ranks
SECTION_RANKS = (
    ("title", 1, 1.0),
    ("abstract", 1, 0.8),
    ("concl", 1, 0.7),
    ("results", 2, 0.6),
    ("discuss", 2, 0.5),
    ("methods", 3, 0.3),
    ("other", 4, 0.1),
)
# unknown sections (Processing.scala:100-103 na.fill)
UNKNOWN_SECTION_RANK = 100
UNKNOWN_SECTION_WEIGHT = 0.01


def load_epmc_ids(df: DataFrame) -> DataFrame:
    """PMID↔PMCID lookup (Grounding.scala:566-571 loadEPMCIDs): both ids
    present, PMCID must start with 'PMC', distinct."""
    return (
        df.selectExpr("PMID as pmid_lut", "PMCID as pmcid_lut")
        .where(
            F.col("pmcid_lut").isNotNull()
            & F.col("pmid_lut").isNotNull()
            & F.col("pmcid_lut").startswith("PMC")
        )
        .distinct()
    )


def merge_abstracts_fulltexts(
    abstracts: DataFrame, fulltexts: DataFrame, epmc_ids: DataFrame
) -> DataFrame:
    """EPMC abstract/fulltext merge (Grounding.scala:598-620):
    fulltexts complete their pmid through the broadcast id LUT (join on
    pmcid, tolerating a null pmid), abstracts that have a fulltext are
    dropped via left_anti on pmid, and the union tags rows with their kind.
    """
    a = abstracts.select(F.col("*"), F.lit("Abstracts").alias("kind"))
    ft = fulltexts.select(F.col("*"), F.lit("Full_text").alias("kind"))
    lut = F.broadcast(epmc_ids)
    complete_ft = (
        ft.join(
            lut,
            (F.col("pmcid") == F.col("pmcid_lut"))
            & (F.col("pmid").isNull() | (F.col("pmid") == F.col("pmid_lut"))),
        )
        .withColumn("pmid", F.coalesce("pmid", "pmid_lut"))
        .drop("pmid_lut", "pmcid_lut")
    )
    abstracts_no_ft = a.join(complete_ft, ["pmid"], "left_anti")
    return abstracts_no_ft.unionByName(complete_ft, allowMissingColumns=True)


def preprocess_epmc(epmc: DataFrame) -> DataFrame:
    """Dedup-by-latest-version (literature/PreProcessing.scala:8-50):
    int_timestamp from the timestamp column, per-(pmcid, pmid, kind) max,
    then a null-safe equality join back to recover the full rows of the
    winning version (A6 + J7 patterns)."""
    full = epmc.withColumn("int_timestamp", F.unix_timestamp(F.col("timestamp")))
    uniq = full.groupBy("pmcid", "pmid", "kind").agg(
        F.max("int_timestamp").alias("int_timestamp")
    )
    u, f = uniq.alias("u"), full.alias("f")
    return (
        u.join(
            f,
            F.col("u.pmcid").eqNullSafe(F.col("f.pmcid"))
            & F.col("u.pmid").eqNullSafe(F.col("f.pmid"))
            & F.col("u.int_timestamp").eqNullSafe(F.col("f.int_timestamp")),
        )
        # reference drops the grouped frame's 4 columns, keeping the full
        # row set (PreProcessing.scala:29-35)
        .select("f.*")
    )


def build_entity_lut(entities: DataFrame, key_mode: str = "engine") -> DataFrame:
    """(id, name, type) + synonyms → (keywordId, type, labelN) grounding LUT.

    Keeps the best keyword per normalized label via dense_rank (the
    reference's ambiguity resolution, Grounding.scala:187-194).
    ``key_mode='reference'`` switches the WHOLE key pipeline to the
    char-exact reference contract. LUT and matcher must agree on it.
    """
    base = entities.select(
        F.col("id").alias("keywordId"),
        F.col("type"),
        F.explode(
            F.array_union(F.array(F.col("name")), F.coalesce(
                F.col("synonyms"), F.array().cast("array<string>")))
        ).alias("label"),
        F.coalesce(F.col("priority"), F.lit(1.0)).alias("score"),
    )
    keyed = base.withColumn(
        "labelN", _grounding_key(F.col("label"), key_mode)
    ).where(F.col("labelN") != "")
    w = Window.partitionBy("type", "labelN").orderBy(F.desc("score"), F.asc("keywordId"))
    return (
        keyed.withColumn("dr", F.dense_rank().over(w))
        .where(F.col("dr") == 1)
        .select("keywordId", "type", "labelN")
        .distinct()
    )


def split_sentences(publications: DataFrame) -> DataFrame:
    """pmid/section/text → one row per sentence (explode)."""
    return publications.select(
        "pmid",
        "section",
        F.posexplode(F.split(F.col("text"), r"(?<=[.!?])\s+")).alias("sentence_idx", "sentence"),
    ).where(F.length(F.trim("sentence")) > 0)


def match_sentences(
    sentences: DataFrame, lut: DataFrame, max_ngram: int = 3, key_mode: str = "engine",
) -> DataFrame:
    """Ground candidate n-gram spans against the LUT on labelN keys.

    Candidate generation is pure Catalyst: token n-grams (n ≤ max_ngram) per
    sentence, normalized through the same label_key pipeline as the LUT —
    the join is then a plain (broadcastable) equi-join, exactly the shape
    Grounding.scala:232-268 produces from NER output.
    """
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("sentence")), r"[^a-z0-9 ]", " ")), r"\s+")
    spans = word_ngrams_upto(toks, max_ngram)
    candidates = sentences.select(
        "pmid", "section", "sentence_idx", F.explode(F.array_distinct(spans)).alias("span")
    ).withColumn(
        "labelN", _grounding_key(F.col("span"), key_mode)
    ).where(F.col("labelN") != "")
    return (
        candidates.join(F.broadcast(lut), "labelN")
        .select("pmid", "section", "sentence_idx", "keywordId", "type")
        .distinct()
    )


def publication_relevance(matches: DataFrame) -> DataFrame:
    """Per-(publication, keyword) section-weighted harmonic relevance
    (Processing.scala:50-117 filterMatchesForCH).

    Faithful semantics: per-section weight vectors — the title contributes a
    single titleWeight entry no matter how many title matches, every other
    section contributes its weight once per match (:104-108); sections join
    the configured rank/weight table with rank=100 / weight=0.01 fills for
    unknowns (:100-103); the per-section vectors concatenate in rank order
    and feed the positional harmonic sum (:110-113).

    Preserve-or-fix divergence (documented): the reference realizes the
    rank ordering as a running-window ``collect_list`` followed by
    ``dropDuplicates``, whose surviving row is partition-order-dependent.
    Here the full vector is assembled with ``array_sort`` over
    (rank, section) struct keys — same intended result, deterministic
    (equal-rank sections tiebreak by name instead of arrival order).
    """
    from itertools import chain

    rank_map = F.create_map(
        *chain.from_iterable((F.lit(s), F.lit(r)) for s, r, _ in SECTION_RANKS)
    )
    weight_map = F.create_map(
        *chain.from_iterable((F.lit(s), F.lit(w)) for s, _, w in SECTION_RANKS)
    )
    title_weight = next(w for s, _, w in SECTION_RANKS if s == "title")
    m = matches.withColumn(
        "rank", F.coalesce(rank_map[F.col("section")], F.lit(UNKNOWN_SECTION_RANK))
    ).withColumn(
        "weight",
        F.coalesce(weight_map[F.col("section")], F.lit(UNKNOWN_SECTION_WEIGHT)),
    )
    per_section = m.groupBy(
        "pmid", "keywordId", "type", "section", "rank", "weight"
    ).agg(F.count(F.lit(1)).alias("n"))
    section_vec = F.when(
        F.col("section") == "title", F.array(F.lit(title_weight))
    ).otherwise(F.expr("array_repeat(weight, int(n))"))
    return (
        per_section.withColumn("vec", section_vec)
        .groupBy("pmid", "keywordId", "type")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rank", "section", "vec"))
                    ),
                    lambda x: x["vec"],
                )
            ).alias("relevanceV")
        )
        .select(
            "pmid", "keywordId", "type",
            F.round(harmonic_fn("relevanceV"), 6).alias("relevance"),
        )
    )


def cooccurrences(matches: DataFrame) -> DataFrame:
    """Same-sentence entity pairs across types (EpmcCooccurrences.scala:22-57)."""
    a = matches.select(
        "pmid", "section", "sentence_idx",
        F.col("keywordId").alias("keywordId1"), F.col("type").alias("type1"),
    )
    b = matches.select(
        "pmid", "section", "sentence_idx",
        F.col("keywordId").alias("keywordId2"), F.col("type").alias("type2"),
    )
    pairs = a.join(b, ["pmid", "section", "sentence_idx"]).where(
        (F.col("type1") < F.col("type2"))
        | ((F.col("type1") == F.col("type2")) & (F.col("keywordId1") < F.col("keywordId2")))
    )
    return pairs.groupBy("keywordId1", "type1", "keywordId2", "type2").agg(
        F.count(F.lit(1)).alias("cooccurrenceCount"),
        F.countDistinct("pmid").alias("publicationCount"),
    )


# reference.conf epmc defaults (sections + uri prefixes)
EPMC_SECTIONS_OF_INTEREST = ["title", "abstract"]
EPMC_EXCLUDED_TARGET_TERMS: list[str] = []
EPMC_URIS = {
    "ensembl": "https://www.ensembl.org/Homo_sapiens/Gene/Summary?g=",
    "chembl": "https://www.ebi.ac.uk/chembl/compound_report_card/",
    "ontologies": "http://purl.obolibrary.org/obo/",
}

COOCCURRENCE_TYPE_LABELS = {
    "DS-CD": "Disease Drug Relationship",
    "GP-CD": "Gene Drug Relationship",
    "GP-DS": "Gene Disease Relationship",
}


def epmc_evidence(raw: DataFrame) -> DataFrame:
    """Europe-PMC gene-disease evidence export (Epmc.scala:83-117 compute +
    :30-42 evidence projection): section filter, GP-DS mapped rows under 600
    chars, grouped per (publication, target, disease, year), resourceScore =
    sum of sentence scores with a >1 significance floor."""
    grouped = (
        raw.filter(F.col("section").isin(EPMC_SECTIONS_OF_INTEREST))
        .withColumn("pmid", F.trim(F.col("pmid").cast("string")))
        .withColumn("publicationIdentifier", F.coalesce("pmid", "pmcid"))
        .filter(
            (F.col("type") == "GP-DS")
            & F.col("isMapped")
            & F.col("publicationIdentifier").isNotNull()
            & (F.length("text") < 600)
            & ~F.col("label1").isin(EPMC_EXCLUDED_TARGET_TERMS)
        )
        .withColumnRenamed("keywordId1", "targetFromSourceId")
        .withColumnRenamed("keywordId2", "diseaseFromSourceMappedId")
        .groupBy(
            "publicationIdentifier", "targetFromSourceId", "diseaseFromSourceMappedId", "year"
        )
        .agg(
            F.sort_array(F.collect_set("pmcid")).alias("pmcIds"),
            F.sort_array(F.collect_set("pmid")).alias("literature"),
            F.sort_array(
                F.collect_set(
                    F.struct(
                        F.col("text"),
                        F.col("start1").alias("tStart"),
                        F.col("end1").alias("tEnd"),
                        F.col("start2").alias("dStart"),
                        F.col("end2").alias("dEnd"),
                        F.col("section"),
                    )
                )
            ).alias("textMiningSentences"),
            F.sum("evidence_score").alias("resourceScore"),
        )
        .withColumn("pmcIds", F.when(F.size("pmcIds") != 0, F.col("pmcIds")))
        .filter(F.col("resourceScore") > 1)
    )
    return grouped.select(
        F.lit("europepmc").alias("datasourceId"),
        F.lit("literature").alias("datatypeId"),
        F.col("targetFromSourceId"),
        F.col("diseaseFromSourceMappedId"),
        F.col("resourceScore"),
        F.col("literature"),
        F.col("textMiningSentences"),
        F.col("pmcIds"),
        F.col("year").alias("publicationYear"),
    )


def epmc_annotations(raw: DataFrame) -> DataFrame:
    """Europe-PMC annotation export (EpmcCooccurrences.scala:22-57): one row
    per publication (PMC preferred over MED), annotations nested with typed
    labels and entity URIs resolved from keyword-id prefixes."""
    u = EPMC_URIS

    def gen_uri(kw):
        return (
            F.when(kw.startswith("ENSG"), F.concat(F.lit(u["ensembl"]), kw))
            .when(kw.startswith("CHEMBL"), F.concat(F.lit(u["chembl"]), kw))
            .otherwise(F.concat(F.lit(u["ontologies"]), kw))
        )

    ctype = F.col("type")
    mapped_type = F.coalesce(
        *[F.when(ctype == k, F.lit(v)) for k, v in COOCCURRENCE_TYPE_LABELS.items()]
    )
    return (
        raw.select(
            F.when(F.col("pmcid").isNotNull(), F.lit("PMC")).otherwise(F.lit("MED")).alias("src"),
            F.when(F.col("pmcid").isNotNull(), F.col("pmcid"))
            .otherwise(F.col("pmid"))
            .alias("id"),
            mapped_type.alias("type"),
            F.col("text").alias("exact"),
            F.col("section"),
            F.array(
                F.struct(
                    F.col("label1").alias("name"), gen_uri(F.col("keywordId1")).alias("uri")
                ),
                F.struct(
                    F.col("label2").alias("name"), gen_uri(F.col("keywordId2")).alias("uri")
                ),
            ).alias("tags"),
        )
        .groupBy("src", "id")
        .agg(
            F.sort_array(
                F.collect_set(F.struct("type", "exact", "section", "tags"))
            ).alias("anns")
        )
        .withColumn("provider", F.lit("OpenTargets"))
    )


def literature_step(
    spark: SparkSession, inputs: Mapping[str, DataFrame]
) -> Mapping[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    if {"abstracts", "fulltexts", "epmc_ids"} <= set(inputs):
        from platform_etl_backend_spark.functions.columns import replace_spaces_schema

        merged = merge_abstracts_fulltexts(
            inputs["abstracts"], inputs["fulltexts"], load_epmc_ids(inputs["epmc_ids"])
        )
        out["epmc_publications"] = replace_spaces_schema(preprocess_epmc(merged))
    if "entities" in inputs and "publications" in inputs:
        lut = build_entity_lut(inputs["entities"])
        sentences = split_sentences(inputs["publications"])
        matches = match_sentences(sentences, lut)
        out.update(
            {
                "matches": matches,
                "relevance": publication_relevance(matches),
                "cooccurrences": cooccurrences(matches),
            }
        )
    if "epmc_cooccurrences" in inputs:
        raw = inputs["epmc_cooccurrences"]
        # coalesce(1) mirrors the reference's single-file contract (S9,
        # Epmc.scala:73) — callers re-partition when writing at scale.
        out["epmc"] = epmc_evidence(raw).coalesce(1)
        out["epmcCooccurrences"] = epmc_annotations(raw)
    return out
