"""OpenFDA FAERS step: adverse-event disproportionality pipeline.

Reference dataflow (``backend/OpenFda.scala:36-62`` + ``openfda/stage/*``):
1. explode raw FAERS reports into (report, drug, reaction) rows with
   qualification filters (PrepareAdverseEventData.scala:14-62);
2. keep only drugs in the reference drug list (inner join on drug_name,
   OpenFdaDataPreparation.scala:24);
3. remove blacklisted events (left_anti, EventsFiltering.scala:10-15);
4. contingency + LLR (PrepareSummaryStatistics/PrepareForMontecarlo);
5. per-drug Monte-Carlo critical values; keep llr > critical value
   (MonteCarloSampling.scala:56-66).
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from platform_etl_backend_spark.operators.stats import (
    contingency_via_groupby,
    montecarlo_critical_values,
)


def pre_prep_raw_fda_data(df: DataFrame) -> DataFrame:
    """Dimension cut of the raw FAERS documents
    (PrePrepRawFdaData.scala:7-19)."""
    return df.selectExpr(
        "safetyreportid",
        "serious",
        "seriousnessdeath",
        "receivedate",
        "primarysource.qualification as qualification",
        "patient",
    )


def prepare_adverse_event_data(raw: DataFrame) -> DataFrame:
    """FAERS document explode → qualified (report, drug_name, reaction) rows
    (PrepareAdverseEventData.scala:14-62): reaction × drug explode, the
    meddra-term quote fix (translate '^' → apostrophe), physician/pharmacist/
    other-HCP qualification + suspect-drug (drugcharacterization=1) filters,
    the 4-field drug-name union explode, and the non-death filter."""
    exploded = (
        raw.withColumn("reaction", F.explode("patient.reaction"))
        .withColumn("drug", F.explode("patient.drug"))
        .selectExpr(
            "safetyreportid",
            "serious",
            "receivedate",
            "ifnull(seriousnessdeath, '0') as seriousness_death",
            "qualification",
            "trim(translate(lower(reaction.reactionmeddrapt), '^', '\\'')) "
            "as reaction_reactionmeddrapt",
            "ifnull(lower(drug.medicinalproduct), '') as drug_medicinalproduct",
            "ifnull(drug.openfda.generic_name, array()) as drug_generic_name_list",
            "ifnull(drug.openfda.brand_name, array()) as drug_brand_name_list",
            "ifnull(drug.openfda.substance_name, array()) as drug_substance_name_list",
            "drug.drugcharacterization as drugcharacterization",
        )
        .where(
            F.col("qualification").isin("1", "2", "3")
            & (F.col("drugcharacterization") == "1")
        )
        .withColumn(
            "drug_names",
            F.array_distinct(
                F.concat(
                    F.col("drug_brand_name_list"),
                    F.array(F.col("drug_medicinalproduct")),
                    F.col("drug_generic_name_list"),
                    F.col("drug_substance_name_list"),
                )
            ),
        )
        .withColumn("_drug_name", F.explode("drug_names"))
        .withColumn("drug_name", F.lower(F.col("_drug_name")))
        .drop("drug_generic_name_list", "drug_substance_name_list", "_drug_name")
    )
    return exploded.where(
        F.col("drug_name").isNotNull()
        & F.col("reaction_reactionmeddrapt").isNotNull()
        & F.col("safetyreportid").isNotNull()
        & (F.col("seriousness_death") == "0")
        & (F.col("drug_name") != "")
    )


def prepare_drug_list(chembl: DataFrame) -> DataFrame:
    """ChEMBL drugs → (chembl_id, drug_name) LUT
    (PrepareDrugList.scala:9-28): trade names + preferred name + synonyms
    flattened, lowered, distinct."""
    return (
        chembl.selectExpr(
            "id as chembl_id",
            "synonyms",
            "name as pref_name",
            "tradeNames as trade_names",
        )
        .withColumn(
            "drug_names",
            F.array_distinct(
                F.flatten(
                    F.array(
                        F.coalesce("trade_names", F.array().cast("array<string>")),
                        F.array(F.col("pref_name")),
                        F.coalesce("synonyms", F.array().cast("array<string>")),
                    )
                )
            ),
        )
        .withColumn("_drug_name", F.explode("drug_names"))
        .withColumn("drug_name", F.lower(F.col("_drug_name")))
        .select("chembl_id", "drug_name")
        .distinct()
    )


def prepare_blacklist_data(blacklist: DataFrame) -> DataFrame:
    """Blacklist file → lowered, quote-fixed reactions
    (PrepareBlacklistData.scala:8-16)."""
    return blacklist.toDF("reactions").withColumn(
        "reactions", F.translate(F.trim(F.lower(F.col("reactions"))), "^", "'")
    )


def _parse_meddra(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """'$'-separated MedDRA .asc rows → named, name-lowered columns
    (AttachMeddraData.scala:17-45)."""
    arr = F.split(
        F.regexp_replace(F.regexp_replace(F.col("_c0"), r"\$+", ","), r"\$$", ""),
        ",",
    )
    out = df.select(
        *[arr.getItem(i).alias(name) for i, name in enumerate(cols)]
    )
    for c in cols:
        if "name" in c:
            out = out.withColumn(c, F.lower(F.col(c)))
    return out


def attach_meddra_data(
    fda: DataFrame,
    target_dimension: str,
    meddra_preferred: DataFrame,
    meddra_low_level: DataFrame,
) -> DataFrame:
    """Resolve each reaction to its MedDRA code — preferred-term match
    first, low-level-term fallback (AttachMeddraData.scala:47-64),
    deduplicated per (target dimension, reaction)."""
    pt = F.broadcast(_parse_meddra(meddra_preferred, ("pt_code", "pt_name")))
    llt = F.broadcast(_parse_meddra(meddra_low_level, ("llt_code", "llt_name")))
    return (
        fda.join(pt, fda["reaction_reactionmeddrapt"] == pt["pt_name"], "left")
        .join(llt, fda["reaction_reactionmeddrapt"] == llt["llt_name"], "left")
        .withColumn("meddraCode", F.coalesce("pt_code", "llt_code"))
        .drop("pt_name", "llt_name", "pt_code", "llt_code")
        .dropDuplicates([target_dimension, "reaction_reactionmeddrapt"])
    )


def prepare_events(
    raw: DataFrame,
) -> DataFrame:
    """Normalize: lower-case drug/reaction, drop nulls, distinct rows."""
    return (
        raw.select(
            F.col("safetyreportid").alias("report"),
            F.lower(F.trim(F.col("drug_name"))).alias("drug"),
            F.lower(F.trim(F.col("reaction"))).alias("reaction"),
        )
        .where(F.col("drug").isNotNull() & F.col("reaction").isNotNull())
        .distinct()
    )


def filter_drugs(events: DataFrame, drug_list: DataFrame) -> DataFrame:
    """Inner join against the curated drug list (broadcast LUT)."""
    lut = F.broadcast(
        drug_list.select(F.lower(F.trim(F.col("drug_name"))).alias("drug")).distinct()
    )
    return events.join(lut, "drug", "inner")


def filter_blacklist(events: DataFrame, blacklist: DataFrame) -> DataFrame:
    """Remove blacklisted reactions (left_anti — EventsFiltering.scala:10-15)."""
    bl = F.broadcast(
        blacklist.select(F.lower(F.trim(F.col("reactions"))).alias("reaction")).distinct()
    )
    return events.join(bl, "reaction", "left_anti")


def stratified_sample(
    raw: DataFrame,
    clean: DataFrame,
    significant: DataFrame,
    target_dimension: str,
    sample_size: float = 0.1,
) -> DataFrame:
    """Stratified sample of raw FAERS reports (StratifiedSampling.scala:20-63):
    sample the target dimension's distinct values independently from the
    clean and the significant subsets, full-outer-merge the two strata,
    resolve back to report ids, and keep the matching raw reports.

    Divergence (documented, SURVEY §7.3#2): the reference's ``.sample`` has
    no seed and is acknowledged non-reproducible (README.md:564-569); this
    port seeds it with 42.
    """
    significant_stratum = (
        significant.select(target_dimension).distinct().sample(fraction=sample_size, seed=42)
    )
    clean_stratum = clean.select(target_dimension).distinct().sample(fraction=sample_size, seed=42)
    merged = significant_stratum.join(clean_stratum, [target_dimension], "full").distinct()
    report_ids = (
        clean.select(target_dimension, "safetyreportid")
        .join(merged, [target_dimension])
        .drop(target_dimension)
        .distinct()
    )
    return raw.withColumn("seriousnessdeath", F.lit(1)).join(report_ids, ["safetyreportid"])


def openfda_step(
    spark: SparkSession,
    inputs: Mapping[str, DataFrame],
    permutations: int = 100,
    percentile: float = 0.95,
    sampling_dimension: str | None = None,
    sample_size: float = 0.1,
) -> Mapping[str, DataFrame]:
    """OpenFda.scala:36-62 compute(). Each input key has one shape; the
    reference's raw files and the prepared tables have separate keys:
    - ``fda_events``: prepared rows (safetyreportid, drug_name, reaction),
      or ``fda_raw``: raw FAERS documents (``patient.drug``,
      ``patient.reaction``, ``primarysource``), with optional
      ``meddra_preferred``/``meddra_low_level``. ``fda_raw`` wins when
      both are given;
    - ``drug_list``: a ``drug_name`` column, and/or ``chembl``: ChEMBL
      drug rows (id, name, synonyms, tradeNames);
    - ``blacklist``: a ``reactions`` column, and/or ``blacklist_raw``: the
      headerless one-reaction-per-line file.
    A missing column raises Spark's ``AnalysisException`` naming it."""
    if "fda_raw" in inputs:
        # raw FAERS documents → full preparation chain
        # (OpenFdaDataPreparation.scala:10-27)
        raw = inputs["fda_raw"]
        fda = prepare_adverse_event_data(pre_prep_raw_fda_data(raw))
        if {"meddra_preferred", "meddra_low_level"} <= set(inputs):
            fda = attach_meddra_data(
                fda, "drug_name", inputs["meddra_preferred"], inputs["meddra_low_level"]
            )
        events = fda.select(
            F.col("safetyreportid").alias("report"),
            F.col("drug_name").alias("drug"),
            F.col("reaction_reactionmeddrapt").alias("reaction"),
        ).distinct()
    else:
        raw = inputs["fda_events"]
        events = prepare_events(raw)
    if "drug_list" in inputs:
        events = filter_drugs(events, inputs["drug_list"])
    if "chembl" in inputs:
        events = filter_drugs(events, prepare_drug_list(inputs["chembl"]))
    if "blacklist" in inputs:
        events = filter_blacklist(events, inputs["blacklist"])
    if "blacklist_raw" in inputs:
        events = filter_blacklist(events, prepare_blacklist_data(inputs["blacklist_raw"]))

    contingency = contingency_via_groupby(events, "report", "drug", "reaction")
    critvals = montecarlo_critical_values(
        contingency, "drug", permutations=permutations, percentile=percentile
    )
    significant = (
        contingency.join(critvals, "drug")
        .where((F.col("llr") > F.col("critical_value")) & (F.col("A") > 2))
        .select(
            "drug",
            F.col("reaction").alias("event"),
            F.col("A").alias("count"),
            "llr",
            F.col("critical_value").alias("critval"),
        )
    )
    out = {"unfiltered": contingency, "significant": significant}
    if sampling_dimension is not None:
        # OpenFda.scala:55-61: optional stratified sample of the raw reports
        clean = events.withColumnRenamed("report", "safetyreportid")
        sig = significant.withColumnRenamed("drug", sampling_dimension)
        out["stratifiedSampling"] = stratified_sample(
            raw,
            clean.withColumnRenamed("drug", sampling_dimension),
            sig,
            sampling_dimension,
            sample_size,
        )
    return out
