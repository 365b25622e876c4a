"""Search step: entity search indexes with cross-entity label propagation.

Reference (``backend/Search.scala``): five entity indexes share the
``SearchIndex`` schema (:42-71 — id, name, description, entity, category,
keywords, prefixes, ngrams, terms, terms25, terms5, multiplier). The
distinctive machinery, ported here:
- top-k-banded cross-entity labels: rank associations per entity
  (W1, :118-126), then collect labels under rank cutoffs 50/25/5
  (A4, :128-141) into terms/terms25/terms5;
- relevance multiplier ``log1p(mean score) + 1`` with 0.01 fallback
  (:289-291, 424-426, 558-559);
- keyword/prefix/ngram generation from names + synonyms via flattenCat
  (:784 concat_ws + lower idiom);
- associations-with-drugs rollup (:85-97).
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from platform_etl_backend_spark.functions.columns import flatten_cat, word_ngrams_upto

SEARCH_INDEX_COLS = (
    "id", "name", "description", "entity", "category", "keywords",
    "prefixes", "ngrams", "terms", "terms25", "terms5", "multiplier",
)


def word_ngrams(name: Column) -> Column:
    """Lowercased word n-grams of a label (ngram search field)."""
    toks = F.split(F.trim(F.lower(name)), r"\s+")
    return F.array_distinct(word_ngrams_upto(toks, 3))


def banded_labels(
    associations: DataFrame, id_col: str, label_col: str, score_col: str,
) -> DataFrame:
    """Top-k-banded label aggregation (W1+A4): per entity, labels of its
    top-ranked counterparts at each cutoff."""
    w = Window.partitionBy(id_col).orderBy(F.desc(score_col), F.asc(label_col))
    ranked = associations.withColumn("rnk", F.rank().over(w))
    aggs = [
        F.sort_array(
            F.collect_set(F.when(F.col("rnk") <= b, F.col(label_col)))
        ).alias(f"labels_{b}")
        for b in (50, 25, 5)
    ]
    return ranked.groupBy(id_col).agg(*aggs)


def relevance_multiplier(mean_score: Column) -> Column:
    """log1p(mean score)+1, 0.01 when the entity has no associations."""
    return F.when(mean_score.isNotNull(), F.log1p(mean_score) + F.lit(1.0)).otherwise(
        F.lit(0.01)
    )


def associations_with_drugs(evidence: DataFrame) -> DataFrame:
    """Search.scala:85-97: per-association drug sets from evidence rows."""
    return (
        evidence.where(F.col("drugId").isNotNull())
        .select("drugId", "targetId", "diseaseId")
        .withColumn("associationId", F.concat_ws("-", "diseaseId", "targetId"))
        .groupBy("associationId")
        .agg(
            F.collect_set("drugId").alias("drugIds"),
            F.first("targetId").alias("targetId"),
            F.first("diseaseId").alias("diseaseId"),
        )
    )


def _search_index(
    entities: DataFrame,
    entity: str,
    category: Column,
    description_col: str | None = None,
    extra_keyword_cols: tuple[str, ...] = (),
) -> DataFrame:
    syn = F.coalesce(F.col("synonyms"), F.array().cast("array<string>"))
    extras = [F.array(F.col(c)) for c in extra_keyword_cols]
    keywords = flatten_cat(F.array(F.col("name")), syn, *extras)
    empty = F.array().cast("array<string>")
    return entities.select(
        F.col("id"),
        F.col("name"),
        (F.col(description_col) if description_col else F.lit(None).cast("string")).alias(
            "description"
        ),
        F.lit(entity).alias("entity"),
        category.alias("category"),
        keywords.alias("keywords"),
        F.transform(keywords, F.lower).alias("prefixes"),
        word_ngrams(F.col("name")).alias("ngrams"),
        F.coalesce(F.col("terms"), empty).alias("terms"),
        F.coalesce(F.col("terms25"), empty).alias("terms25"),
        F.coalesce(F.col("terms5"), empty).alias("terms5"),
        relevance_multiplier(F.col("relevance")).alias("multiplier"),
    )


def search_step(
    spark: SparkSession, inputs: Mapping[str, DataFrame]
) -> Mapping[str, DataFrame]:
    """The reference pins 8 DISK_ONLY persists across its Search step
    (Search.scala:652-809); this step persists nothing. The only internal
    frame with real fan-out is ``assoc`` (4 consumers), and its recompute
    is one parquet scan + two broadcast joins — SCALE.md's Search-persist
    table records the per-site reasoning."""
    targets = inputs["targets"]
    diseases = inputs["diseases"]
    associations = inputs["associations"]  # targetId, diseaseId, score
    evidence = inputs.get("evidence")

    disease_names = F.broadcast(
        diseases.select(F.col("id").alias("diseaseId"), F.col("name").alias("diseaseName"))
    )
    target_names = F.broadcast(
        targets.select(F.col("id").alias("targetId"), F.col("approvedSymbol"))
    )
    assoc = associations.join(disease_names, "diseaseId").join(target_names, "targetId")

    t_bands = banded_labels(assoc, "targetId", "diseaseName", "score").withColumnsRenamed(
        {"labels_50": "terms", "labels_25": "terms25", "labels_5": "terms5"}
    )
    t_rel = assoc.groupBy("targetId").agg(F.mean("score").alias("relevance"))
    target_docs = (
        targets.withColumnRenamed("id", "targetId")
        .join(t_bands, "targetId", "left")
        .join(t_rel, "targetId", "left")
        .withColumnRenamed("targetId", "id")
        .withColumnRenamed("approvedName", "name")
    )
    search_targets = _search_index(
        target_docs, "target", F.lit("target"), None,
        extra_keyword_cols=("approvedSymbol",),
    )

    d_bands = banded_labels(assoc, "diseaseId", "approvedSymbol", "score").withColumnsRenamed(
        {"labels_50": "terms", "labels_25": "terms25", "labels_5": "terms5"}
    )
    d_rel = assoc.groupBy("diseaseId").agg(F.mean("score").alias("relevance"))
    disease_docs = (
        diseases.withColumnRenamed("id", "diseaseId")
        .join(d_bands, "diseaseId", "left")
        .join(d_rel, "diseaseId", "left")
        .withColumnRenamed("diseaseId", "id")
    )
    search_diseases = _search_index(
        disease_docs, "disease", F.lit("disease"), "description"
        if "description" in diseases.columns else None,
    )

    out = {"search_target": search_targets, "search_disease": search_diseases}
    if evidence is not None:
        out["associations_with_drugs"] = associations_with_drugs(evidence)
    if "drugs" in inputs and evidence is not None:
        out["search_drug"] = drug_index(inputs["drugs"], evidence, targets, diseases)
    if "variants" in inputs:
        out["search_variant"] = variant_index(inputs["variants"])
    if "studies" in inputs:
        out["search_study"] = study_index(
            inputs["studies"], targets, inputs.get("credible_sets")
        )
    return out


def variant_index(variants: DataFrame) -> DataFrame:
    """Variant search index (Search.scala:563-593): keywords/prefixes fan the
    variant id out across three location spellings (chr_pos_, chr-pos-,
    chr:pos:) plus hgvs/rsIds/dbXref ids; constant multiplier 1."""
    empty = F.array().cast("array<string>")
    v = (
        variants.withColumn(
            "locationUnderscore", F.concat("chromosome", F.lit("_"), "position", F.lit("_"))
        )
        .withColumn("locationDash", F.concat("chromosome", F.lit("-"), "position", F.lit("-")))
        .withColumn("locationColon", F.concat("chromosome", F.lit(":"), "position", F.lit(":")))
    )
    xref_ids = (
        F.col("dbXrefs.id") if "dbXrefs" in variants.columns else F.lit(None).cast("array<string>")
    )
    rs = F.col("rsIds") if "rsIds" in variants.columns else F.lit(None).cast("array<string>")
    hgvs = (
        F.array(F.col("hgvsId")) if "hgvsId" in variants.columns else F.lit(None).cast("array<string>")
    )
    keywords = flatten_cat(
        F.array(F.col("variantId")), hgvs, xref_ids, rs,
        F.array(F.col("locationUnderscore")),
        F.array(F.col("locationDash")),
        F.array(F.col("locationColon")),
    )
    prefixes = flatten_cat(
        F.array(F.col("variantId")), hgvs, xref_ids, rs, F.array(F.col("locationColon"))
    )
    return v.select(
        F.col("variantId").alias("id"),
        F.col("variantId").alias("name"),
        F.lit(None).cast("string").alias("description"),
        F.lit("variant").alias("entity"),
        F.lit("variant").alias("category"),
        keywords.alias("keywords"),
        prefixes.alias("prefixes"),
        flatten_cat(F.array(F.col("variantId")), xref_ids).alias("ngrams"),
        empty.alias("terms"),
        empty.alias("terms25"),
        empty.alias("terms5"),
        F.lit(1.0).alias("multiplier"),
    )


def study_index(
    studies: DataFrame, targets: DataFrame, credible_sets: DataFrame | None
) -> DataFrame:
    """Study search index (Search.scala:595-636): global rank over
    (credibleSetCount desc, nSamples desc) feeds a linear relevance
    multiplier 1+((max-rank)/(max-1)); terms propagate trait/disease/target
    labels. The unpartitioned window (W2) is preserved from the reference —
    studies are O(100k) rows, a deliberate single-partition pass; studyId
    added as tiebreak and the max==1 division guarded (reference yields null
    there)."""
    s = studies.withColumnRenamed("geneId", "targetId").join(
        F.broadcast(targets.select(F.col("id").alias("targetId"), "approvedSymbol")),
        ["targetId"],
        "left",
    )
    if credible_sets is not None:
        counts = (
            credible_sets.select("studyId")
            .groupBy("studyId")
            .agg(F.count("studyId").cast("double").alias("credibleSetCount"))
        )
        s = s.join(counts, ["studyId"], "left")
    else:
        s = s.withColumn("credibleSetCount", F.lit(None).cast("double"))
    w = Window.orderBy(
        F.desc_nulls_last("credibleSetCount"), F.desc_nulls_last("nSamples"), F.asc("studyId")
    )
    ranked = s.withColumn("rank", F.rank().over(w))
    max_rank = ranked.agg(F.max("rank")).first()[0]  # A7 driver scalar, as reference :605
    multiplier = (
        F.lit(1.0) + (F.lit(max_rank) - F.col("rank")) / F.lit(max_rank - 1)
        if max_rank and max_rank > 1
        else F.lit(1.0)
    )
    empty = F.array().cast("array<string>")
    keyword_srcs = [
        F.array(F.col("studyId")),
        F.array(F.col("pubmedId")) if "pubmedId" in studies.columns else F.lit(None).cast("array<string>"),
        F.array(F.col("publicationFirstAuthor"))
        if "publicationFirstAuthor" in studies.columns
        else F.lit(None).cast("array<string>"),
    ]
    terms = flatten_cat(
        F.array(F.col("traitFromSource")) if "traitFromSource" in studies.columns else F.lit(None).cast("array<string>"),
        F.col("diseaseIds") if "diseaseIds" in studies.columns else F.lit(None).cast("array<string>"),
        F.array(F.col("approvedSymbol")),
        F.array(F.col("targetId")),
    )
    return ranked.select(
        F.col("studyId").alias("id"),
        F.col("studyId").alias("name"),
        F.lit(None).cast("string").alias("description"),
        F.lit("study").alias("entity"),
        F.lit("study").alias("category"),
        flatten_cat(*keyword_srcs).alias("keywords"),
        flatten_cat(*keyword_srcs).alias("prefixes"),
        flatten_cat(F.array(F.col("studyId"))).alias("ngrams"),
        terms.alias("terms"),
        terms.alias("terms25"),
        terms.alias("terms5"),
        multiplier.alias("multiplier"),
    )


def drug_index(
    drugs: DataFrame, evidence: DataFrame, targets: DataFrame, diseases: DataFrame
) -> DataFrame:
    """Drug search index (Search.scala:430-560 semantics): associated
    target/disease ids from evidence, propagated labels, flattenCat
    keywords over synonyms/tradeNames, evidence-score relevance."""
    assoc = (
        evidence.where(F.col("drugId").isNotNull())
        .groupBy("drugId")
        .agg(
            F.collect_set("targetId").alias("targetIds"),
            F.collect_set("diseaseId").alias("diseaseIds"),
            F.mean("score").alias("relevance"),
        )
    )
    t_labels = (
        assoc.select("drugId", F.explode("targetIds").alias("targetId"))
        .join(
            F.broadcast(targets.select(F.col("id").alias("targetId"), "approvedSymbol")),
            "targetId",
        )
        .groupBy("drugId")
        .agg(F.sort_array(F.collect_set("approvedSymbol")).alias("target_labels"))
    )
    d_labels = (
        assoc.select("drugId", F.explode("diseaseIds").alias("diseaseId"))
        .join(
            F.broadcast(
                diseases.select(F.col("id").alias("diseaseId"), F.col("name").alias("dname"))
            ),
            "diseaseId",
        )
        .groupBy("drugId")
        .agg(F.sort_array(F.collect_set("dname")).alias("disease_labels"))
    )
    empty = F.array().cast("array<string>")
    docs = (
        drugs.withColumnRenamed("id", "drugId")
        .join(assoc, "drugId", "left")
        .join(t_labels, "drugId", "left")
        .join(d_labels, "drugId", "left")
    )
    syn = F.coalesce(F.col("synonyms"), empty)
    trade = (
        F.coalesce(F.col("tradeNames"), empty) if "tradeNames" in drugs.columns else empty
    )
    keywords = flatten_cat(F.array(F.col("name")), F.array(F.col("drugId")), syn, trade)
    return docs.select(
        F.col("drugId").alias("id"),
        F.col("name"),
        F.lit(None).cast("string").alias("description"),
        F.lit("drug").alias("entity"),
        (F.col("drugType") if "drugType" in drugs.columns else F.lit("drug")).alias(
            "category"
        ),
        keywords.alias("keywords"),
        F.transform(keywords, F.lower).alias("prefixes"),
        word_ngrams(F.col("name")).alias("ngrams"),
        flatten_cat(
            F.coalesce(F.col("disease_labels"), empty),
            F.coalesce(F.col("target_labels"), empty),
        ).alias("terms"),
        empty.alias("terms25"),
        empty.alias("terms5"),
        relevance_multiplier(F.col("relevance")).alias("multiplier"),
    )
