"""Target step (core): Ensembl gene normalization with non-reference-gene
election, HGNC merge, annotation join-accretion, protein-id cleanup, TSS.

Reference (``backend/target/*``, ~2,500 LoC over 21 files): 13 per-source
normalizers joined left_outer onto one wide document keyed by ENSG id
(Target.scala:106-170), with the subtle pieces being the alternative-gene
election for symbols mapped to multiple gene ids (Ensembl.scala:135-227)
and the priority dedup of protein ids (Target.scala:525-593 → ported
UDF-free as ``functions.columns.priority_dedup_array``).

Determinism note (SURVEY §4): the reference's ``orderBy + dropDuplicates``
gene dedup keeps an arbitrary row and its same-length alt-gene tie-break is
acknowledged random; this port uses explicit row_number/struct orderings.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from platform_etl_backend_spark.functions.columns import (
    mk_flatten_array,
    nest,
    priority_dedup_array,
    safe_array_union,
)

INCLUDE_CHROMOSOMES = tuple([str(i) for i in range(1, 23)] + ["X", "Y", "MT"])

# reference.conf:356-370 hgnc_ortholog_species (taxonomy-id prefixed)
DEFAULT_TARGET_SPECIES = [
    "9606-human", "9598-chimpanzee", "9544-macaque", "10090-mouse",
    "10116-rat", "9986-rabbit", "10141-guineapig", "9615-dog", "9823-pig",
    "8364-frog", "7955-zebrafish", "7227-fly", "6239-worm",
]

PROTEIN_ID_PRIORITY = {
    # cleanProteinIds hierarchy (Target.scala:578-588): swissprot, trembl,
    # plain uniprot, ensembl, everything else (uniprot_obsolete) last
    "uniprot_swissprot": 0,
    "uniprot_trembl": 1,
    "uniprot": 2,
    "ensembl_PRO": 3,
    "uniprot_obsolete": 4,
}


def ensembl_normalize(genes: DataFrame) -> DataFrame:
    """Ensembl.scala:28-64: ENSG filter, chromosome-or-swissprot filter,
    casts, TEC biotype removal, deterministic dedup, genomicLocation nest."""
    chrom_ok = F.col("chromosome").isin(*INCLUDE_CHROMOSOMES)
    df = (
        genes.where(F.col("id").startswith("ENSG"))
        .where(chrom_ok | F.col("uniprot_swissprot").isNotNull())
        .select(
            F.trim(F.col("id")).alias("id"),
            F.regexp_replace("biotype", "(?i)tec", "").alias("biotype"),
            F.col("description"),
            F.col("end").cast("long").alias("end"),
            F.col("start").cast("long").alias("start"),
            F.col("strand").cast("int").alias("strand"),
            F.col("chromosome"),
            F.col("approvedSymbol"),
            F.col("uniprot_swissprot"),
            F.col("uniprot_trembl"),
        )
    )
    w = Window.partitionBy("id").orderBy("chromosome", "start")
    df = df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    # description "[Source: ...]" suffix → approvedName (descriptionToApprovedName)
    df = df.withColumn(
        "approvedName", F.trim(F.regexp_replace("description", r"\s*\[Source:[^\]]*\]", ""))
    )
    return nest(df, ["chromosome", "start", "end", "strand"], "genomicLocation")


def select_best_non_reference_gene(df: DataFrame) -> DataFrame:
    """Ensembl.scala:135-227 faithfully: for approvedSymbols carried by >1
    gene id, elect one reference gene (canonical-chromosome id if unique,
    else the longest gene) and fold the rest into ``alternativeGenes``."""
    ag = (
        df.select("id", "approvedSymbol", "genomicLocation.*")
        .groupBy("approvedSymbol")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.collect_set(
                F.struct(
                    (F.lit(-1) * (F.col("end") - F.col("start"))).alias("length"),
                    F.col("chromosome"),
                    F.col("id"),
                )
            ).alias("agTemp"),
        )
        .where(F.col("count") > 1)
    )
    chroms = F.array(*[F.lit(c) for c in INCLUDE_CHROMOSOMES])
    with_flag = ag.withColumn(
        "isCanonical",
        F.exists(F.col("agTemp"), lambda x: F.array_contains(chroms, x["chromosome"])),
    )
    on_canonical = (
        with_flag.where(F.col("isCanonical"))
        .withColumn(
            "canonicalId",
            F.filter(F.col("agTemp"), lambda x: F.array_contains(chroms, x["chromosome"])),
        )
        .withColumn(
            "altGenes",
            F.filter(F.col("agTemp"), lambda x: ~F.array_contains(chroms, x["chromosome"])),
        )
        .where(F.size("canonicalId") == 1)
        .select(
            F.expr("canonicalId.id[0]").alias("id"),
            F.col("altGenes.id").alias("altGenes"),
        )
    )
    on_non_canonical = (
        with_flag.where(~F.col("isCanonical"))
        .select("approvedSymbol", F.array_sort("agTemp").alias("ag"))
        .select(
            F.col("ag.id").getItem(0).alias("id"),
            F.col("ag.id").alias("alternativeGenes"),
        )
        .select("id", F.array_remove("alternativeGenes", F.col("id")).alias("alternativeGenes"))
    )
    to_remove = (
        on_canonical.select("id", "altGenes")
        .join(on_non_canonical, "id", "full")
        .select(
            F.flatten(
                F.array(
                    F.coalesce("altGenes", F.array().cast("array<string>")),
                    F.coalesce("alternativeGenes", F.array().cast("array<string>")),
                )
            ).alias("genes")
        )
        .select(F.explode("genes").alias("geneToRemove"))
    )
    return (
        df.join(on_canonical, ["id"], "left")
        .join(on_non_canonical, ["id"], "left")
        .join(to_remove, df["id"] == to_remove["geneToRemove"], "left_anti")
        .withColumn("alternativeGenes", F.coalesce("alternativeGenes", "altGenes"))
        .drop("altGenes")
    )


def build_protein_ids(df: DataFrame) -> DataFrame:
    """uniprot_swissprot/trembl arrays → prioritized deduped proteinIds
    (refactorProteinId + Target.filterAndSortProteinIds semantics)."""
    empty = F.array().cast("array<string>")

    def tagged(col: str, source: str):
        return F.transform(
            F.coalesce(F.col(col), empty),
            lambda x: F.struct(x.alias("id"), F.lit(source).alias("source")),
        )

    merged = F.concat(
        tagged("uniprot_swissprot", "uniprot_swissprot"),
        tagged("uniprot_trembl", "uniprot_trembl"),
    )
    return df.withColumn(
        "proteinIds", priority_dedup_array(merged, PROTEIN_ID_PRIORITY)
    ).drop("uniprot_swissprot", "uniprot_trembl")


def merge_hgnc(ensembl: DataFrame, hgnc: DataFrame) -> DataFrame:
    """HGNC synonym/xref accretion (Target.mergeHgncAndEnsembl +
    synonym-union block, Target.scala:125-150)."""
    h = hgnc.select(
        F.col("ensembl_gene_id").alias("id"),
        F.col("hgnc_id").alias("hgncId"),
        F.col("alias_symbol").alias("hgncSymbolSynonyms"),
        F.col("alias_name").alias("hgncNameSynonyms"),
        F.col("uniprot_ids").alias("uniprotIds"),
    )
    joined = ensembl.join(F.broadcast(h), "id", "left")
    return (
        joined.withColumn(
            "synonyms", safe_array_union("hgncSymbolSynonyms", "hgncNameSynonyms")
        )
        .withColumn("dbXrefs", safe_array_union(F.array(F.col("hgncId"))))
        .drop("hgncId", "hgncSymbolSynonyms", "hgncNameSynonyms")
    )


def add_uniprot(
    core: DataFrame,
    uniprot: DataFrame,
    hgnc: DataFrame,
    ssl: DataFrame | None = None,
) -> DataFrame:
    """Accrete the full UniprotKB entity onto the ENSG core.

    Reference shape (Target.scala:112-127 + addEnsemblIdsToUniprot
    :232-260): uniprot entries map to genes through HGNC's uniprot_ids
    (each mapped accession also becomes a 'uniprot_obsolete' proteinId),
    per-gene flatten-collects of the entity arrays, then the doc-level
    merges — proteinIds through the priority dedup, entity synonyms into
    the doc synonym list, functionDescriptions and subcellularLocations as
    new annotation columns. Input is the DISTRIBUTED flat-file parse
    (sources/flatfile.parse_uniprot_records), not a driver-side loop.
    """
    from platform_etl_backend_spark.sources.flatfile import parse_uniprot_records
    from platform_etl_backend_spark.steps.target_annotations import uniprot_normalize

    entity = uniprot_normalize(parse_uniprot_records(uniprot), ssl)
    h = hgnc.select(
        F.col("ensembl_gene_id").alias("id"),
        F.explode("uniprot_ids").alias("uniprotId"),
    ).withColumn(
        "uniprotProteinId",
        F.struct(
            F.col("uniprotId").alias("id"), F.lit("uniprot_obsolete").alias("source")
        ),
    )
    grouped = (
        h.join(entity, ["uniprotId"])
        .groupBy("id")
        .agg(
            F.sort_array(
                F.flatten(
                    F.collect_set(
                        F.concat("synonyms", "nameSynonyms", "symbolSynonyms")
                    )
                )
            ).alias("upSynonyms"),
            F.sort_array(F.flatten(F.collect_set("functionDescriptions"))).alias(
                "functionDescriptions"
            ),
            F.sort_array(F.flatten(F.collect_set("proteinIds"))).alias("upProteinIds"),
            F.sort_array(
                F.flatten(
                    F.collect_set(
                        F.coalesce(
                            F.col("subcellularLocations"),
                            F.array().cast(
                                "array<struct<location:string,source:string,"
                                "termSL:string,labelSL:string>>"
                            ),
                        )
                    )
                )
            ).alias("subcellularLocations"),
            F.sort_array(F.collect_set("uniprotProteinId")).alias("uniprotProteinId"),
        )
        .withColumn(
            "upProteinIds", F.array_union("upProteinIds", "uniprotProteinId")
        )
        .drop("uniprotProteinId")
    )
    empty = F.array().cast("array<struct<id:string,source:string>>")
    empty_s = F.array().cast("array<string>")
    return (
        core.join(F.broadcast(grouped), "id", "left")
        .withColumn(
            "proteinIds",
            priority_dedup_array(
                F.concat(
                    F.coalesce(F.col("proteinIds"), empty),
                    F.coalesce(F.col("upProteinIds"), empty),
                ),
                PROTEIN_ID_PRIORITY,
            ),
        )
        .withColumn(
            # Target.scala:137-139: synonyms ∪ symbolSynonyms ∪ nameSynonyms
            "synonyms",
            F.array_distinct(
                safe_array_union(
                    F.coalesce(F.col("synonyms"), empty_s),
                    F.coalesce(F.col("upSynonyms.label"), empty_s),
                )
            ),
        )
        .drop("upProteinIds", "upSynonyms")
    )


def accrete(core: DataFrame, annotations: Mapping[str, tuple[DataFrame, str]]) -> DataFrame:
    """The join-accretion chain (Target.scala:106-170): successive left
    joins of per-source annotation frames onto the ENSG-keyed core."""
    out = core
    for _, (ann, key) in annotations.items():
        out = out.join(ann, out["id"] == ann[key], "left").drop(key)
    return out


def target_step(
    spark: SparkSession, inputs: Mapping[str, DataFrame]
) -> Mapping[str, DataFrame]:
    from platform_etl_backend_spark.steps import target_annotations as TA

    core = (
        ensembl_normalize(inputs["ensembl"])
        .transform(select_best_non_reference_gene)
        .transform(build_protein_ids)
    )
    # the uniprot entity (and its subcellularLocations) maps through HGNC
    with_uniprot = "hgnc" in inputs and "uniprot" in inputs
    if "hgnc" in inputs:
        core = merge_hgnc(core, inputs["hgnc"])
        if with_uniprot:
            core = add_uniprot(
                core, inputs["uniprot"], inputs["hgnc"], inputs.get("uniprot_ssl")
            )
    annotations: dict[str, tuple[DataFrame, str]] = {}
    if "go" in inputs:
        go_by_gene = (
            inputs["go"]
            .groupBy(F.col("ensemblId"))
            .agg(F.sort_array(F.collect_set(F.struct("goId", "aspect"))).alias("go"))
        )
        annotations["go"] = (go_by_gene, "ensemblId")
    if "reactome" in inputs:
        pathways = (
            inputs["reactome"]
            .groupBy(F.col("ensemblId"))
            .agg(F.sort_array(F.collect_set(F.struct("pathwayId", "pathway"))).alias("pathways"))
        )
        annotations["reactome"] = (pathways, "ensemblId")
    if "tractability" in inputs:
        annotations["tractability"] = (
            TA.tractability_normalize(inputs["tractability"]),
            "ensemblGeneId",
        )
    if "constraints" in inputs:
        annotations["constraints"] = (
            TA.genetic_constraints_normalize(inputs["constraints"]),
            "gc_id",
        )
    if "project_scores" in inputs and "dependency_matrix" in inputs:
        annotations["project_scores"] = (
            TA.project_scores_normalize(
                inputs["project_scores"], inputs["dependency_matrix"]
            ),
            "ps_id",
        )
    if "gene_code" in inputs:
        annotations["gene_code"] = (TA.gene_code_normalize(inputs["gene_code"]), "gc_gene_id")
    if "hpa" in inputs:
        annotations["hpa"] = (
            TA.gene_with_location_normalize(inputs["hpa"], inputs.get("sl_locations")),
            "gwl_id",
        )
    core = core.persist()
    # the lookup's synonyms come from HGNC; without it there are none
    lookup = TA.ensg_symbol_lookup(
        core if "hgnc" in inputs
        else core.withColumn("synonyms", F.lit(None).cast("array<string>"))
    )
    if "safety" in inputs:
        annotations["safety"] = (
            TA.safety_normalize(inputs["safety"], lookup, inputs.get("diseases")),
            "safety_id",
        )
    if "tep" in inputs:
        annotations["tep"] = (TA.tep_normalize(inputs["tep"], lookup), "tep_id")
    if "chemical_probes" in inputs:
        annotations["chemical_probes"] = (
            TA.chemical_probes_normalize(inputs["chemical_probes"], lookup),
            "cp_id",
        )
    if "ncbi" in inputs:
        annotations["ncbi"] = (TA.ncbi_normalize(inputs["ncbi"]), "ncbi_id")
    doc = accrete(core, annotations)
    if "ncbi" in inputs:
        # addNcbiEntrezSynonyms (Target.scala:166): entrez labels fold into
        # the synonym arrays (HGNC's, when configured);
        # removeDuplicatedSynonyms (:193-197) dedups.
        existing = F.array().cast("array<string>")
        if "hgnc" in inputs:
            existing = F.coalesce(F.col("synonyms"), existing)
        doc = doc.withColumn(
            "synonyms",
            F.array_distinct(safe_array_union(existing, F.col("ncbiSynonyms.label"))),
        ).drop("ncbiSynonyms", "ncbiSymbolSynonyms", "ncbiNameSynonyms")
    if "hallmarks" in inputs:
        doc = doc.join(
            F.broadcast(TA.hallmarks_normalize(inputs["hallmarks"])), ["approvedSymbol"], "left"
        )
    if {"homology_dict", "homology_coding", "homology_gene_dict"} <= set(inputs):
        orthologs = TA.ortholog_normalize(
            inputs["homology_dict"],
            inputs["homology_coding"],
            inputs["homology_gene_dict"],
            list(inputs.get("target_species", [])) or DEFAULT_TARGET_SPECIES,
        )
        doc = TA.add_homologues(doc, orthologs)
    if "hpa" in inputs and with_uniprot:
        # Target.scala:117-122: uniprot + HPA locations merge into one array
        doc = doc.withColumn(
            "subcellularLocations",
            mk_flatten_array(F.col("subcellularLocations"), F.col("locations")),
        ).drop("locations")
    # Target.scala:181-188: transcription start site from strand — the
    # canonical transcript (GeneCode input, strand '+'/'-') when that input
    # is configured, else the gene's genomic location (strand ±1)
    loc, plus, minus = (
        ("canonicalTranscript", "+", "-") if "gene_code" in inputs
        else ("genomicLocation", 1, -1)
    )
    doc = doc.withColumn(
        "tss",
        F.when(F.col(f"{loc}.strand") == plus, F.col(f"{loc}.start")).when(
            F.col(f"{loc}.strand") == minus, F.col(f"{loc}.end")
        ),
    )
    out = {"target": doc}
    if "gene_essentiality" in inputs:
        out["targetEssentiality"] = TA.gene_essentiality(inputs["gene_essentiality"], lookup)
    return out
