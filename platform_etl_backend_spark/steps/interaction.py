"""Interaction step: molecular-interaction evidence normalization.

Reference dataflow (``backend/Interaction.scala``): id-mapping union
(:68-106), interactor→gene resolution joined through a truncated-id key
(:220-240), directional swap + union for symmetric sources
(intact/reactome/signor, :242-260), evidence explode (:264-268), and
per-pair aggregation counts (:297-318).

Port notes: the reference's ``getCodeFcn`` Scala UDF (X3, :153-155 — split
the interactor id at '_' then '-') is pure Catalyst here
(``substring_index`` chain), which keeps the mapping join broadcast-able.
"""

from __future__ import annotations

from functools import reduce
from typing import Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SYMMETRIC_SOURCES = ("reactome", "intact", "signor")

_SWAP = {
    "targetA": "targetB", "targetB": "targetA",
    "intA": "intB", "intB": "intA",
    "intA_source": "intB_source", "intB_source": "intA_source",
    "speciesA": "speciesB", "speciesB": "speciesA",
    "intABiologicalRole": "intBBiologicalRole",
    "intBBiologicalRole": "intABiologicalRole",
}


def get_code(c: Column | str) -> Column:
    """Interactor-id truncation as Catalyst (X3): 'P1234-2_x' -> 'P1234'."""
    c = F.col(c) if isinstance(c, str) else c
    return F.substring_index(F.substring_index(c, "_", 1), "-", 1)


def map_interactors(interactions: DataFrame, mapping: DataFrame) -> DataFrame:
    """Resolve intA/intB to gene ids via the (mapped_id → gene_id) LUT."""
    m = F.broadcast(mapping.select("gene_id", "mapped_id").distinct())
    a = interactions.join(m, get_code("intA") == m.mapped_id, "left").withColumn(
        "targetA", F.col("gene_id")
    ).drop("gene_id", "mapped_id")
    mb = F.broadcast(
        mapping.select(
            F.col("gene_id").alias("gene_id_b"), F.col("mapped_id").alias("mapped_id_b")
        ).distinct()
    )
    return (
        a.join(mb, get_code("intB") == F.col("mapped_id_b"), "left")
        .withColumn("targetB", F.col("gene_id_b"))
        .drop("gene_id_b", "mapped_id_b")
    )


def add_reverse_interactions(df: DataFrame) -> DataFrame:
    """Symmetric sources contribute both directions (Interaction.scala:242-260)."""
    reversed_df = df.where(F.col("sourceDatabase").isin(*SYMMETRIC_SOURCES)).select(
        *[F.col(c).alias(_SWAP.get(c, c)) for c in df.columns]
    )
    return df.unionByName(reversed_df)


def explode_evidences(df: DataFrame) -> DataFrame:
    return df.withColumn("evidences", F.explode("evidencesList")).drop("evidencesList")


def aggregate_interactions(evidences: DataFrame) -> DataFrame:
    """Per-pair evidence counts + first score (Interaction.scala:297-318)."""
    return (
        evidences.groupBy(
            "sourceDatabase",
            "targetA", "intA", "intABiologicalRole",
            "targetB", "intB", "intBBiologicalRole",
            "speciesA", "speciesB",
        )
        .agg(
            F.count("evidences").alias("count"),
            F.first("interactionScore").alias("scoring"),
        )
    )


# STRING evidence channels → (detection method short name, MI identifier)
# (stringProtein/StringProtein.scala:60-69)
STRING_EVIDENCE_CHANNELS = (
    ("coexpression", "MI:2231"),
    ("cooccurence", "MI:2231"),
    ("neighborhood", "MI:0057"),
    ("fusion", "MI:0036"),
    ("homology", "MI:2163"),
    ("experimental", "MI:0591"),
    ("database", ""),
    ("textmining", "MI:0110"),
)


def _human_organism() -> Column:
    """StringProtein.scala:92-98: fixed human organism struct (snake-case
    field names — the nested input shape, pre camelCase normalization)."""
    return F.struct(
        F.lit("human").alias("mnemonic"),
        F.lit("Homo sapiens").alias("scientific_name"),
        F.lit("9606").cast("bigint").alias("taxon_id"),
    )


def string_to_intact_shape(
    string_df: DataFrame,
    score_threshold: int = 0,
    database_version: str = "N/A",
) -> DataFrame:
    """STRING protein-links TSV → the nested IntAct-style interaction shape.

    Reference semantics (stringProtein/StringProtein.scala:49-170): score
    threshold filter on ltrim(combined_score), one evidence struct per
    channel (ALL channels kept here — the >0 filter happens after the
    evidence explode, StringProtein header comment + Interaction.scala:140),
    human-taxon filter, protein-id prefix strip, fixed biological role /
    id_source / organism, source_info with the configured STRING version.
    Producing the nested shape and funnelling it through the SAME
    ``prepare_intact_interactions`` normalizer mirrors the reference's
    architecture (one generateInteractions over a shared schema).
    """
    df = string_df.withColumn(
        "interaction_score", F.ltrim(F.col("combined_score")).cast("int")
    ).where(F.col("interaction_score") >= score_threshold)
    evidence = F.array(*[
        F.struct(
            F.lit(name).alias("interaction_detection_method_short_name"),
            F.lit(mi).alias("interaction_detection_method_mi_identifier"),
            F.col(name).cast("long").alias("evidence_score"),
            F.lit(None).cast("string").alias("interaction_identifier"),
            F.lit(None).cast("string").alias("pubmed_id"),
        )
        for name, mi in STRING_EVIDENCE_CHANNELS
    ])

    def interactor(protein_col: str) -> Column:
        return F.struct(
            F.lit("ensembl_protein").alias("id_source"),
            F.lit("unspecified role").alias("biological_role"),
            F.regexp_replace(protein_col, "9606.", "").alias("id"),
            _human_organism().alias("organism"),
        )

    return (
        df.where(
            F.col("protein1").contains("9606.")
            & F.col("protein2").contains("9606.")
        )
        .select(
            interactor("protein1").alias("interactorA"),
            interactor("protein2").alias("interactorB"),
            F.struct(
                F.lit(database_version).alias("database_version"),
                F.lit("string").alias("source_database"),
            ).alias("source_info"),
            F.struct(
                F.col("interaction_score"),
                F.lit(False).alias("causal_interaction"),
                evidence.alias("evidence"),
            ).alias("interaction"),
        )
    )


def prepare_string_interactions(
    string_df: DataFrame,
    score_threshold: int = 0,
    database_version: str = "N/A",
) -> DataFrame:
    """STRING → common flat interaction schema (generateStrings,
    Interaction.scala:136-143, minus the post-explode evidence filter which
    the step applies after ``explode_evidences``)."""
    return prepare_intact_interactions(
        string_to_intact_shape(string_df, score_threshold, database_version)
    )


def transform_ensembl_protein(df: DataFrame) -> DataFrame:
    """Ensembl GTF (positional TSV, CDS rows) → (gene_id, mapped_id) LUT for
    the STRING interactor resolution (Interaction.scala:395-401
    transformEnsemblProtein; the reference names the second column
    protein_id and renames it to mapped_id in generateStrings :136)."""
    return (
        df.where(F.col("_c2") == "CDS")
        .select(
            F.regexp_extract(F.col("_c8"), r"ENSG\w{11}", 0).alias("gene_id"),
            F.regexp_extract(F.col("_c8"), r"ENSP\w{11}", 0).alias("mapped_id"),
        )
        .distinct()
    )


def generate_mapping(
    targets: DataFrame, rna_central: DataFrame | None, human_mapping: DataFrame | None
) -> DataFrame:
    """The id-mapping union (Interaction.scala:21-106 generateMapping):
    (gene_id, mapped_id) rows assembled from four sources —
    1. target proteinIds ∪ uniprot human-mapping accessions;
    2. RNAcentral (positional TSV: _c0 mapped id, _c5 gene id);
    3. HGNC dbXRefs ('HGNC:'-prefixed);
    4. human-mapping Gene_Name links resolved through already-mapped ids.
    All four are positional unions (U1, :102) de-duplicated at the end.
    """
    empty = F.array().cast("array<string>")
    pieces: list[DataFrame] = []
    proteins = targets.select(
        F.col("id"), F.coalesce(F.col("proteinIds.id"), empty).alias("proteins")
    )
    if human_mapping is not None:
        hm = (
            human_mapping.filter(F.col("_c1") == "Ensembl")
            .groupBy("_c2")
            .agg(F.collect_list("_c0").alias("mapping_list"))
            .select(F.col("_c2").alias("id"), F.coalesce("mapping_list", empty).alias("mapping_list"))
        )
        merged = (
            proteins.join(hm, ["id"], "left")
            .withColumn(
                "mapped_id_list",
                F.when(F.col("mapping_list").isNull(), F.col("proteins")).otherwise(
                    F.array_union("proteins", "mapping_list")
                ),
            )
            .select(F.col("id").alias("gene_id"), "mapped_id_list")
            .distinct()
        )
    else:
        merged = proteins.select(
            F.col("id").alias("gene_id"), F.col("proteins").alias("mapped_id_list")
        ).distinct()
    exploded = merged.select("gene_id", F.explode("mapped_id_list").alias("mapped_id"))
    pieces.append(exploded)
    if rna_central is not None:
        pieces.append(
            rna_central.select(
                F.col("_c5").alias("gene_id"), F.col("_c0").alias("mapped_id")
            )
        )
    if "dbXRefs" in targets.columns:
        pieces.append(
            targets.select(
                F.col("id").alias("gene_id"),
                F.explode(
                    F.filter(F.col("dbXRefs"), lambda x: x["source"] == "HGNC")
                ).alias("x"),
            ).select("gene_id", F.concat(F.lit("HGNC:"), F.col("x.id")).alias("mapped_id"))
        )
    if human_mapping is not None:
        # Gene_Name links: resolve symbol groups through ids already mapped
        gene_ids = (
            human_mapping.filter(F.col("_c1") == "Gene_Name")
            .groupBy("_c2")
            .agg(F.collect_list("_c0").alias("mapping_list"))
            .select("_c2", F.explode("mapping_list").alias("mapped_id"))
        )
        combo = gene_ids.join(exploded, ["mapped_id"], "left")
        mapped = combo.filter(F.col("gene_id").isNotNull()).drop("mapped_id").distinct()
        unmapped = combo.filter(F.col("gene_id").isNull()).drop("gene_id")
        pieces.append(
            unmapped.join(mapped, ["_c2"]).select("gene_id", "mapped_id").distinct()
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.union(p)
    return out.distinct()


INTACT_SPECIES = ["mnemonic", "scientific_name", "taxon_id"]


def prepare_intact_interactions(intact: DataFrame) -> DataFrame:
    """IntAct-shaped nested JSON → the common interaction schema
    (Interaction.scala:165-227 generateInteractions, pre-mapping part):
    interactorB falls back to interactorA when absent (self-interaction),
    scores > 1 are rescaled /1000, species re-nested with camelCase names.
    """
    def b_or_a(field: str):
        return F.when(
            F.col(f"interactorB.{field}").isNull(), F.col(f"interactorA.{field}")
        ).otherwise(F.col(f"interactorB.{field}"))

    def species(col: F.Column):
        return F.struct(
            col["mnemonic"].alias("mnemonic"),
            col["scientific_name"].alias("scientificName"),
            col["taxon_id"].alias("taxonId"),
        )

    score = F.col("interaction.interaction_score")
    return intact.select(
        F.col("interactorA.id").alias("intA"),
        F.col("interactorA.id_source").alias("intA_source"),
        species(F.col("interactorA.organism")).alias("speciesA"),
        F.col("interactorA.biological_role").alias("intABiologicalRole"),
        b_or_a("id").alias("intB"),
        b_or_a("id_source").alias("intB_source"),
        species(b_or_a("organism")).alias("speciesB"),
        b_or_a("biological_role").alias("intBBiologicalRole"),
        F.col("source_info.source_database").alias("sourceDatabase"),
        F.col("source_info").alias("interactionResources"),
        F.col("interaction.evidence").alias("evidencesList"),
        F.when(score > 1, score / 1000).otherwise(score).alias("interactionScore"),
    )


def remove_null_target_a(df: DataFrame) -> DataFrame:
    """Interaction.scala:390-391 removeNullTargetA."""
    return df.where(F.col("targetA").isNotNull())


def _is_struct_with(df: DataFrame, column: str, field: str) -> bool:
    if column not in df.columns:
        return False
    dtype = df.schema[column].dataType
    return isinstance(dtype, T.StructType) and field in dtype.fieldNames()


def unmatched_report(*evidence_frames: DataFrame) -> DataFrame:
    """Interaction.scala:364-383 getUnmatch: distinct intB ids whose human
    interactor failed gene-id resolution, unioned across sources. The
    human-taxon filter applies only when the species column is the nested
    struct (generic pre-flattened inputs may carry opaque species)."""
    pieces = []
    for df in evidence_frames:
        cond = F.col("targetB").isNull()
        if _is_struct_with(df, "speciesB", "taxonId"):
            cond = cond & (F.col("speciesB.taxonId") == 9606)
        pieces.append(df.where(cond).select("intB"))
    return reduce(lambda a, b: a.unionByName(b), pieces).distinct()


def select_fields(df: DataFrame) -> DataFrame:
    """Evidence-index projection with the evidence struct star-expanded
    (Interaction.scala:274-290 selectFields)."""
    return df.selectExpr(
        "targetA", "intA", "intA_source", "speciesA",
        "targetB", "intB", "intB_source", "speciesB",
        "interactionResources", "interactionScore",
        "evidences.*",
        "intABiologicalRole", "intBBiologicalRole",
    )


def generate_evidences(
    intact_like: DataFrame | None, string_ev: DataFrame | None
) -> DataFrame:
    """The final interactionsEvidence export (Interaction.scala:341-355
    generateEvidences): star-expanded evidence fields, STRING channel scores
    rescaled /1000, null-padded union across the two source schemas, and the
    whole tree renamed snake_case → lowerCamelCase."""
    from platform_etl_backend_spark.functions import (
        snake_to_lower_camel_schema,
        union_dataframe_different_schema,
    )

    pieces = []
    if string_ev is not None:
        s = select_fields(string_ev)
        if "evidence_score" in s.columns:
            s = s.withColumn("evidence_score", F.col("evidence_score") / 1000)
        pieces.append(s)
    if intact_like is not None:
        pieces.append(select_fields(intact_like))
    out = pieces[0]
    for p in pieces[1:]:
        out = union_dataframe_different_schema(out, p)
    return snake_to_lower_camel_schema(out)


def interaction_output_configs(
    base_path: str, n_files: int = 200
) -> "dict[str, IOResourceConfig]":
    """Default write configs for the step's outputs, carrying the
    reference's physical layout (Interaction.scala:434-440): the per-pair
    aggregation coalesces to ``n_files`` and the evidence export is
    range-clustered on (targetA, targetB) via ``repartitionByRange`` so
    each parquet file covers a disjoint target range — downstream scans
    filtered on target prune whole files. ``engine.io.write_single``
    applies both from the config."""
    from platform_etl_backend_spark.engine.config import IOResourceConfig

    base = base_path.rstrip("/")
    return {
        "interaction_evidences": IOResourceConfig(
            format="parquet",
            path=f"{base}/interactionEvidence",
            write_mode="overwrite",
            range_partition_by=("targetA", "targetB"),
            range_partitions=n_files,
        ),
        "interactions_agg": IOResourceConfig(
            format="parquet",
            path=f"{base}/interaction",
            write_mode="overwrite",
            coalesce=n_files,
        ),
        "interactions_unmatched": IOResourceConfig(
            format="json",
            path=f"{base}/interactionUnmatched",
            write_mode="overwrite",
        ),
    }


def interaction_step(
    spark: SparkSession,
    inputs: Mapping[str, DataFrame],
    string_score_threshold: int = 0,
    string_version: str = "N/A",
) -> Mapping[str, DataFrame]:
    """Interaction.scala:404-460 compute(): per-source normalize → map →
    reverse-union → evidence explode, then targetA-null gating, per-pair
    aggregation, evidence export, and the unmatched-interactor QC output.

    Faithful wiring details: STRING resolves interactors through its own
    Ensembl-protein GTF LUT (``ensproteins`` input) while IntAct-shaped
    sources use the generated 4-source id mapping; the STRING evidence
    filter (>0) runs after the explode; the unmatched report is computed
    BEFORE the targetA filter.
    """
    if "mapping" in inputs:
        mapping = inputs["mapping"]
    else:
        mapping = generate_mapping(
            inputs["targets"], inputs.get("rna_central"), inputs.get("human_mapping")
        )
    string_mapping = (
        transform_ensembl_protein(inputs["ensproteins"])
        if "ensproteins" in inputs
        else mapping
    )

    def process(flat: DataFrame, lut: DataFrame) -> DataFrame:
        return explode_evidences(add_reverse_interactions(map_interactors(flat, lut)))

    per_source: dict[str, DataFrame] = {}
    if "interactions" in inputs:
        per_source["generic"] = process(inputs["interactions"], mapping)
    if "intact" in inputs:
        per_source["intact"] = process(
            prepare_intact_interactions(inputs["intact"]), mapping
        )
    if "string" in inputs:
        per_source["string"] = process(
            prepare_string_interactions(
                inputs["string"], string_score_threshold, database_version=string_version
            ),
            string_mapping,
        ).where(F.col("evidences.evidence_score") > 0)

    frames = list(per_source.values())
    all_ev = frames[0]
    for f in frames[1:]:
        all_ev = all_ev.unionByName(f, allowMissingColumns=True)
    valid_ev = remove_null_target_a(all_ev)
    outputs = {
        "interaction_evidences": valid_ev,
        "interactions_agg": aggregate_interactions(valid_ev),
        "interactions_unmatched": unmatched_report(*frames),
    }

    # the index export needs the struct evidence schema + interactionResources
    def exportable(df: DataFrame) -> bool:
        return _is_struct_with(df, "evidences", "evidence_score") or (
            isinstance(df.schema["evidences"].dataType, T.StructType)
            and "interactionResources" in df.columns
        )

    intact_like = [
        remove_null_target_a(df)
        for name, df in per_source.items()
        if name != "string" and exportable(df)
    ]
    string_export = (
        remove_null_target_a(per_source["string"])
        if "string" in per_source and exportable(per_source["string"])
        else None
    )
    if intact_like or string_export is not None:
        merged_intact = intact_like[0] if intact_like else None
        for p in intact_like[1:]:
            merged_intact = merged_intact.unionByName(p, allowMissingColumns=True)
        outputs["interactions_evidence_export"] = generate_evidences(
            merged_intact, string_export
        )
    return outputs
