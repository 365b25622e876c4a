"""Expression (HPA baseline) step: tissue expression matrices → per-gene
nested tissue documents.

Reference dataflow (``backend/Expression.scala``): literal-map column
application for reliability/level codes (:21-51), melt of three wide
matrices + union + group-max merge (:64-90), tissue→EFO mapping via full
joins matched on label or expression id (:95-145; unmatched tissues are
dropped), and nested tissue-struct assembly per gene (:188-259).
"""

from __future__ import annotations

from itertools import chain
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from platform_etl_backend_spark.functions.columns import transpose_dataframe

RELIABILITY_MAP = {
    "Supportive": True,
    "Uncertain": False,
    "Approved": True,
    "Supported": True,
    "Enhanced": True,
}

LEVEL_MAP = {
    "Not detected": 0,
    "Low": 1,
    "Medium": 2,
    "High": 3,
    "N/A": 0,
    "Not representative": 0,
}


def _lit_map(d: Mapping) -> F.Column:
    """typedLit(Map(...)) equivalent (Expression.scala:21-51)."""
    return F.create_map(*chain.from_iterable((F.lit(k), F.lit(v)) for k, v in d.items()))


def transform_normal_tissue(normal_tissue: DataFrame) -> DataFrame:
    df = normal_tissue
    for c in df.columns:
        df = df.withColumnRenamed(c, c.replace(" ", "_"))
    return (
        df.where(F.col("Level") != "N/A")
        .withColumn("ReliabilityMap", _lit_map(RELIABILITY_MAP)[F.col("Reliability")])
        .withColumn("LevelMap", _lit_map(LEVEL_MAP)[F.col("Level")])
    )


def _standardise_baseline(df: DataFrame, value_name: str, unit: str) -> DataFrame:
    melted = (
        transpose_dataframe(df, ["ID"])
        .withColumnRenamed("row_name", "Tissue")
        .withColumnRenamed("ID", "Gene")
        .withColumnRenamed("value", value_name)
        .withColumn("unit", F.lit(unit) if unit else F.lit(None).cast("string"))
    )
    return melted


def baseline_expression_maps(rna: DataFrame, binned: DataFrame, zscore: DataFrame) -> DataFrame:
    """Melt ×3 → union → group-max merge (Expression.scala:64-90)."""
    parts = [
        _standardise_baseline(rna, "rna", "TPM"),
        _standardise_baseline(binned, "binned", ""),
        _standardise_baseline(zscore, "zscore", ""),
    ]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p, allowMissingColumns=True)
    return unioned.groupBy("Gene", "Tissue").agg(
        F.max("rna").alias("rna_val"),
        F.max("binned").alias("binned_val"),
        F.max("zscore").alias("zscore_val"),
        F.first("unit", ignorenulls=True).alias("unit_val"),
    )


def efo_tissue_mapping(map_efos: DataFrame, expressions: DataFrame) -> DataFrame:
    """Full join of the EFO tissue map with the expression lookup, with
    name fallbacks (Expression.scala:95-110)."""
    expr = expressions.withColumnRenamed("_c0", "expressionId").withColumnRenamed("_c1", "name")
    efos = map_efos.withColumnRenamed("tissue_id", "tissue_internal_id")
    return (
        efos.join(expr, F.col("name") == F.col("tissue_internal_id"), "full")
        .withColumn(
            "efoId", F.when(F.col("efo_code").isNull(), F.col("name")).otherwise(F.col("efo_code"))
        )
        .withColumn(
            "labelNew", F.when(F.col("label").isNull(), F.col("name")).otherwise(F.col("label"))
        )
    )


def generate_baseline_info(normal_tissue: DataFrame, baseline: DataFrame) -> DataFrame:
    """Key-based full join with per-column defaults (Expression.scala:148-185)."""
    nt = (
        normal_tissue.withColumn("Tissue", F.lower(F.col("Tissue")))
        .withColumn("key", F.concat(F.col("Gene"), F.lit("-"), F.col("Tissue")))
        .withColumnRenamed("Gene", "GeneNormal")
        .withColumnRenamed("Tissue", "TissueNormal")
    )
    base = (
        baseline.withColumn("key", F.concat(F.col("Gene"), F.lit("-"), F.col("Tissue")))
        .withColumnRenamed("Gene", "GeneBase")
        .withColumnRenamed("Tissue", "TissueBase")
    )
    return nt.join(base, ["key"], "full").select(
        F.coalesce("GeneNormal", "GeneBase").alias("Gene"),
        F.coalesce("TissueNormal", "TissueBase").alias("Tissue"),
        F.coalesce("LevelMap", F.lit(-1)).alias("LevelMapDef"),
        F.col("Cell_type").alias("Cell_type_def"),
        F.coalesce("ReliabilityMap", F.lit(False)).alias("ReliabilityMapDef"),
        F.coalesce("rna_val", F.lit(0)).alias("rna"),
        F.coalesce("binned_val", F.lit(-1)).alias("binned"),
        F.coalesce("zscore_val", F.lit(-1)).alias("zscore"),
        F.coalesce("unit_val", F.lit("")).alias("unit"),
    )


def select_tissues(tissues: DataFrame, efo_map: DataFrame) -> DataFrame:
    """Label resolution: match each tissue to the EFO map by label or by
    expression id (Expression.scala:112-145). Unmatched tissues are dropped;
    the reference's except-based fallback for them yields only null efoIds,
    which ``generate_expressions`` filters out (:205)."""
    # full, not inner, joins keep the nullable fields of the reference's right join
    by_label = tissues.join(efo_map, F.col("labelNew") == F.col("Tissue"), "full")
    by_expr_id = tissues.join(efo_map, F.col("expressionId") == F.col("Tissue"), "full")
    return (
        by_label.unionByName(by_expr_id)
        .where(F.col("Tissue").isNotNull() & F.col("labelNew").isNotNull())
        .withColumn("labelDef", F.col("labelNew"))
    )


def generate_expressions(
    normal_tissue: DataFrame, baseline: DataFrame, efo_map: DataFrame
) -> DataFrame:
    """Nested tissue assembly per gene (Expression.scala:188-259)."""
    info = generate_baseline_info(normal_tissue, baseline)
    valid = (
        select_tissues(info, efo_map)
        .drop("efo_code", "labelNew", "label", "name", "expressionId",
              "tissue_internal_id", "Tissue")
        .distinct()
    )
    empty_arr = F.array().cast("array<string>")
    protein = (
        valid.where(F.col("efoId").isNotNull())
        .groupBy("Gene", "labelDef", "efoId", "anatomical_systems", "organs")
        .agg(
            F.max("ReliabilityMapDef").alias("reliability"),
            F.max("LevelMapDef").alias("level"),
            F.struct(
                F.max("rna").alias("value"),
                F.max("zscore").alias("zscore"),
                F.max("binned").alias("level"),
                F.max("unit").alias("unit"),
            ).alias("rna"),
            F.collect_list(
                F.when(
                    F.col("Cell_type_def").isNotNull(),
                    F.struct(
                        F.col("Cell_type_def").alias("name"),
                        F.col("ReliabilityMapDef").alias("reliability"),
                        F.col("LevelMapDef").alias("level"),
                    ),
                )
            ).alias("cell_type"),
        )
        .withColumn("organsValue", F.coalesce(F.col("organs"), empty_arr))
        .withColumn("anatomicalSystems", F.coalesce(F.col("anatomical_systems"), empty_arr))
        .drop("organs", "anatomical_systems")
    )
    return (
        protein.groupBy("Gene")
        .agg(
            F.collect_set(
                F.struct(
                    F.col("efoId").alias("efo_code"),
                    F.col("labelDef").alias("label"),
                    F.col("organsValue").alias("organs"),
                    F.col("anatomicalSystems").alias("anatomical_systems"),
                    F.col("rna").alias("rna"),
                    F.struct(
                        F.col("reliability").alias("reliability"),
                        F.col("level").alias("level"),
                        F.col("cell_type").alias("cell_type"),
                    ).alias("protein"),
                )
            ).alias("tissues")
        )
        .withColumnRenamed("Gene", "id")
    )


def expression_step(
    spark: SparkSession, inputs: Mapping[str, DataFrame]
) -> Mapping[str, DataFrame]:
    normal = transform_normal_tissue(inputs["tissues"])
    baseline = baseline_expression_maps(
        inputs["rna"], inputs["binned"], inputs["zscore"]
    )
    efo_map = efo_tissue_mapping(inputs["efomap"], inputs["exprmap"])
    return {"expressions": generate_expressions(normal, baseline, efo_map)}
