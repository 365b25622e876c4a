"""Target step per-source annotation normalizers (round-out of SURVEY §2.10#2).

Each function re-expresses one reference normalizer in pure Catalyst
(no UDFs — the reference's two Scala UDFs in this area are replaced by
struct-key sorts / SQL lambda comparators):

- ``tractability_normalize``    — Tractability.scala:13-41 (bucket columns)
- ``genetic_constraints_normalize`` — GeneticConstraints.scala:39-94 (gnomad)
- ``project_scores_normalize``  — ProjectScores.scala:17-51 (depmap xRef)
- ``ortholog_normalize``        — Ortholog.scala:24-110 (homology swap-union)
- ``add_homologues``            — Target.scala:325-365 (priority-sorted nest;
  reference registers a Scala comparator UDF ``speciesDistanceSort`` — here a
  pure SQL lambda comparator, keeping whole-stage codegen)
- ``safety_normalize``          — Safety.scala:31-116 (symbol rescue +
  obsolete-EFO replacement + groupBy collect)
- ``hallmarks_normalize``       — Hallmarks.scala:18-91 (cancer split)
- ``gene_essentiality``         — Target.scala:291-321 (side output)

Determinism: the reference's ``collect_set``/``collect_list`` leave array
order arbitrary; every aggregation here wraps in ``sort_array`` (SURVEY §4
caveat — divergence is deliberate and documented).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from platform_etl_backend_spark.functions.columns import safe_array_union

CANCER_HALLMARKS = [
    "proliferative signalling",
    "invasion and metastasis",
    "suppression of growth",
    "angiogenesis",
    "change of cellular energetics",
    "genome instability and mutations",
    "escaping programmed cell death",
    "tumour promoting inflammation",
    "cell replicative immortality",
    "escaping immune response to cancer",
]


def tractability_normalize(df: DataFrame) -> DataFrame:
    """Tractability.scala:13-41: columns matching ``.*_B\\d+_.*`` collapse to
    ``array<struct<modality,id,value:boolean>>`` keyed by ensembl_gene_id.

    modality = first ``_``-part of the column name, id = last part,
    value = (cell == 1).
    """
    import re

    gid = "ensembl_gene_id"
    cols = [c for c in df.columns if re.match(r".*_B\d+_.*", c)]
    structs = [
        F.struct(
            F.lit(c.split("_")[0]).alias("modality"),
            F.lit(c.split("_")[-1]).alias("id"),
            (F.col(f"`{c}`") == 1).alias("value"),
        )
        for c in cols
    ]
    return df.select(F.col(gid).alias("ensemblGeneId"), F.array(*structs).alias("tractability"))


def _gc_struct(df_prefix: str, score_col: str, with_rank: bool):
    def c(name: str):
        return F.col(f"`{df_prefix}.{name}`")

    # gnomad uses the string "NA" for missing numerics: try_cast → null
    # (the reference's Spark 3.2 non-ANSI cast has the same null-on-bad-input
    # behavior; Spark 4 ANSI mode requires it be explicit).
    return F.struct(
        F.lit(df_prefix).alias("constraintType"),
        c(score_col).try_cast("float").alias("score"),
        c("exp").try_cast("float").alias("exp"),
        c("obs").try_cast("int").alias("obs"),
        c("oe").try_cast("float").alias("oe"),
        c("oe_ci.lower").try_cast("float").alias("oeLower"),
        c("oe_ci.upper").try_cast("float").alias("oeUpper"),
        (c("oe_ci.upper_rank").try_cast("int") if with_rank else F.lit(None).cast("int")).alias(
            "upperRank"
        ),
        (
            c("oe_ci.upper_bin_decile").try_cast("int")
            if with_rank
            else F.lit(None).cast("int")
        ).alias("upperBin"),
        (F.col("upper_bin_sextile").cast("int") if with_rank else F.lit(None).cast("int")).alias(
            "upperBin6"
        ),
    )


def genetic_constraints_normalize(df: DataFrame) -> DataFrame:
    """GeneticConstraints.scala:39-94: gnomad per-gene constraint triple
    (syn/mis/lof) with a global ntile(6) sextile over the lof upper rank.

    The global (unpartitioned) ntile window is preserved from the reference
    (W4): gnomad is ~20k genes, a deliberate single-partition scalar pass.
    gene_id is added as an order tiebreak for determinism.
    """
    filtered = df.filter((F.col("canonical") == "true") & (F.col("transcript_type") != "NA"))
    w = Window.orderBy(F.col("`lof.oe_ci.upper_rank`").try_cast("int"), F.col("gene_id"))
    with_sextile = filtered.withColumn(
        "upper_bin_sextile",
        F.when(F.col("`lof.oe_ci.upper_rank`") != "NA", F.ntile(6).over(w) - 1),
    )
    return with_sextile.select(
        F.col("gene_id").cast("string").alias("gc_id"),
        F.array(
            _gc_struct("syn", "z_score", False),
            _gc_struct("mis", "z_score", False),
            _gc_struct("lof", "pLI", True),
        ).alias("constraint"),
    )


def project_scores_normalize(project_score: DataFrame, dependency_matrix: DataFrame) -> DataFrame:
    """ProjectScores.scala:17-51: horizontal sum across all cell-line columns
    of the DepMap dependency matrix (A9); genes depended-on in ≥1 line gain a
    ProjectScore xRef, mapped to ENSG via the hgnc symbol."""
    ids = project_score.filter(F.col("ensembl_gene_id").isNotNull()).select(
        F.col("gene_id").alias("ps_gene_id"),
        "ensembl_gene_id",
        "hgnc_symbol",
    )
    value_cols = [c for c in dependency_matrix.columns if c != "Gene"]
    total = reduce(lambda a, b: a + b, [F.col(f"`{c}`") for c in value_cols])
    depended = (
        dependency_matrix.withColumn("total", total)
        .select("Gene", "total")
        .filter(F.col("total") > 0)
    )
    return (
        depended.join(ids, depended["Gene"] == ids["hgnc_symbol"])
        .select(
            F.col("ensembl_gene_id").alias("ps_id"),
            F.array(
                F.struct(
                    F.col("ps_gene_id").alias("id"), F.lit("ProjectScore").alias("source")
                )
            ).alias("xRef"),
        )
    )


def ortholog_normalize(
    homology_dict: DataFrame,
    coding_proteins: DataFrame,
    homology_gene_dict: DataFrame,
    target_species: list[str],
) -> DataFrame:
    """Ortholog.scala:24-110: homo-sapiens homology rows plus the
    column-swapped reverse rows (paralogs + reverse homologies), whitelisted
    by species taxonomy id, with a broadcast priority rank per species."""
    spark = homology_dict.sparkSession
    priority = spark.createDataFrame(
        [(s.split("-")[0], i) for i, s in enumerate(target_species)],
        "speciesId: string, priority: int",
    )
    whitelist = [s.split("-")[0] for s in target_species]
    homo_dict = homology_dict.select(
        F.col("#name").alias("name"),
        F.col("species").alias("speciesName"),
        F.col("taxonomy_id"),
    ).filter(F.col("taxonomy_id").isin(whitelist))
    gene_dict = homology_gene_dict.select(
        F.col("id").alias("homology_gene_stable_id"),
        F.when((F.col("name").isNotNull()) & (F.col("name") != ""), F.col("name"))
        .otherwise(F.col("id"))
        .alias("targetGeneSymbol"),
    )
    ref_species = "homo_sapiens"
    forward = coding_proteins.where(F.col("species") == ref_species)
    swapped = (
        coding_proteins.where(
            (
                (F.col("species") == ref_species)
                & F.col("homology_type").isin("other_paralog", "within_species_paralog")
            )
            | ((F.col("species") != ref_species) & (F.col("homology_species") == ref_species))
        )
        .select(
            F.col("homology_gene_stable_id").alias("gene_stable_id"),
            F.col("homology_species").alias("species"),
            F.col("homology_identity").alias("identity"),
            F.col("homology_type"),
            F.col("gene_stable_id").alias("homology_gene_stable_id"),
            F.col("species").alias("homology_species"),
            F.col("identity").alias("homology_identity"),
            F.col("is_high_confidence"),
        )
    )
    cols = [
        "gene_stable_id",
        "species",
        "identity",
        "homology_type",
        "homology_gene_stable_id",
        "homology_species",
        "homology_identity",
        "is_high_confidence",
    ]
    all_homologies = forward.select(*cols).unionByName(swapped.select(*cols))
    return (
        all_homologies.join(
            F.broadcast(homo_dict), F.col("homology_species") == homo_dict["speciesName"]
        )
        .join(F.broadcast(gene_dict), ["homology_gene_stable_id"], "left")
        .select(
            F.col("gene_stable_id").alias("id"),
            F.col("taxonomy_id").alias("speciesId"),
            F.col("name").alias("speciesName"),
            F.col("homology_type").alias("homologyType"),
            F.col("homology_gene_stable_id").alias("targetGeneId"),
            F.col("is_high_confidence").alias("isHighConfidence"),
            F.col("targetGeneSymbol"),
            F.col("identity").cast("double").alias("queryPercentageIdentity"),
            F.col("homology_identity").cast("double").alias("targetPercentageIdentity"),
        )
        .join(F.broadcast(priority), ["speciesId"], "left")
    )


HOMOLOGUE_SORT = (
    "array_sort(homologues, (x, y) -> CASE"
    " WHEN coalesce(x.priority, 2147483647) < coalesce(y.priority, 2147483647) THEN -1"
    " WHEN coalesce(x.priority, 2147483647) > coalesce(y.priority, 2147483647) THEN 1"
    " WHEN x.targetGeneId < y.targetGeneId THEN -1"
    " WHEN x.targetGeneId > y.targetGeneId THEN 1 ELSE 0 END) AS homologues"
)


def add_homologues(core: DataFrame, orthologs: DataFrame) -> DataFrame:
    """Target.scala:325-365: paralog gene symbols resolved from the core's own
    (id, approvedSymbol), homologue rows nested and sorted closest-species
    first. The reference sorts with a registered Scala comparator UDF; here
    the comparator is a pure SQL lambda (priority asc, targetGeneId tiebreak)
    so the sort stays inside codegen."""
    gene_symbols = core.select("id", "approvedSymbol")
    paralog_symbols = gene_symbols.select(
        F.col("id").alias("paralogId"), F.col("approvedSymbol").alias("paralogGeneSymbol")
    )
    homo = (
        orthologs.join(F.broadcast(gene_symbols), ["id"])
        .join(F.broadcast(paralog_symbols), F.col("paralogId") == F.col("targetGeneId"), "left")
        .withColumn(
            "targetGeneSymbol",
            F.coalesce("paralogGeneSymbol", "targetGeneSymbol", "approvedSymbol"),
        )
        .drop("approvedSymbol", "paralogGeneSymbol", "paralogId")
    )
    nested = homo.select(
        "id",
        F.struct(*[c for c in homo.columns if c != "id"]).alias("homologues"),
    )
    grouped = (
        nested.groupBy("id")
        .agg(F.collect_list("homologues").alias("homologues"))
        .selectExpr("id", HOMOLOGUE_SORT)
    )
    return core.join(grouped, ["id"], "left")


def safety_normalize(
    safety: DataFrame, gene_lookup: DataFrame, diseases: DataFrame | None = None
) -> DataFrame:
    """Safety.scala:31-116: rescue missing ENSG ids by symbol
    (array_contains expression join, J6), replace obsolete EFO event ids via
    the diseases obsoleteTerms LUT, then nest evidence under the gene id."""
    lut = gene_lookup.select("ensgId", "name")
    with_ids = (
        safety.join(
            F.broadcast(lut),
            F.expr("array_contains(name, targetFromSourceId)"),
            "left",
        )
        .withColumn("id", F.coalesce("id", "ensgId"))
        .drop("ensgId", "name")
    )
    if diseases is not None:
        obsolete = diseases.select(
            F.col("id").alias("diseaseId"), F.explode("obsoleteTerms").alias("obsoleteTerm")
        )
        with_ids = (
            with_ids.join(
                F.broadcast(obsolete), F.col("eventId") == F.col("obsoleteTerm"), "left"
            )
            .withColumn("eventId", F.coalesce("diseaseId", "eventId"))
            .drop("obsoleteTerm", "diseaseId")
        )
    payload = [c for c in with_ids.columns if c not in ("id", "targetFromSourceId")]
    return (
        with_ids.select("id", F.struct(*payload).alias("safety"))
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("safety")).alias("safetyLiabilities"))
        .withColumnRenamed("id", "safety_id")
    )


def hallmarks_normalize(df: DataFrame) -> DataFrame:
    """Hallmarks.scala:18-91: COSMIC hallmark rows split into cancer hallmarks
    (fixed 10-label list) vs free-form attributes, nested per gene symbol.

    PMID rides try_cast: real COSMIC exports contain 'NA' cells, which the
    reference's Spark 3.2 non-ANSI cast nulled silently — under Spark 4
    ANSI semantics that must be explicit (caught by the reference-fixture
    parity test)."""
    base = df.select(
        F.col("GENE_SYMBOL").alias("gene_symbol"),
        F.col("PUBMED_PMID").try_cast("long").alias("pmid"),
        F.col("HALLMARK").alias("hallmark"),
        F.col("IMPACT").alias("impact"),
        F.col("DESCRIPTION").alias("description"),
    ).withColumn("is_cancer", F.col("hallmark").isin(CANCER_HALLMARKS))
    cancer = (
        base.filter(F.col("is_cancer"))
        .groupBy("gene_symbol")
        .agg(
            F.sort_array(
                F.collect_set(
                    F.struct("pmid", "description", "impact", F.col("hallmark").alias("label"))
                )
            ).alias("cancerHallmarks")
        )
    )
    attributes = (
        base.filter(~F.col("is_cancer"))
        .groupBy("gene_symbol")
        .agg(
            F.sort_array(
                F.collect_set(F.struct("pmid", "description", F.col("hallmark").alias("name")))
            ).alias("attributes")
        )
    )
    return (
        base.select("gene_symbol")
        .distinct()
        .join(cancer, ["gene_symbol"], "left")
        .join(attributes, ["gene_symbol"], "left")
        .select(
            F.col("gene_symbol").alias("approvedSymbol"),
            F.struct("attributes", "cancerHallmarks").alias("hallmarks"),
        )
    )


def ensg_symbol_lookup(core: DataFrame) -> DataFrame:
    """Target.scala:208-230 generateEnsgToSymbolLookup, reduced to the fields
    this port carries: [ensgId, name] where name = protein ids + approved
    symbol + synonyms — the LUT non-ENSG-keyed sources join through."""
    pieces = [F.array(F.col("approvedSymbol")), F.col("proteinIds.id"), F.col("synonyms")]
    merged = reduce(
        lambda a, b: F.array_union(a, F.coalesce(b, F.array().cast("array<string>"))), pieces
    )
    return core.select(F.col("id").alias("ensgId"), F.array_distinct(merged).alias("name"))


def ncbi_normalize(df: DataFrame) -> DataFrame:
    """Ncbi.scala:20-64: Homo_sapiens.gene_info rows → per-ENSG synonym
    structs tagged source=NCBI_entrez; '|'-separated multi-value cells, the
    ENSG id fished out of the dbXrefs column, '-' placeholders dropped."""
    from platform_etl_backend_spark.functions.columns import safe_array_union

    base = (
        df.select(
            F.split(F.col("Symbol"), r"\|").alias("sy"),
            F.split(F.col("dbXrefs"), r"\|").alias("xref"),
            F.split(F.col("Synonyms"), r"\|").alias("s"),
            F.split(F.col("Other_designations"), r"\|").alias("od"),
        )
        .withColumn("xref", F.explode("xref"))
        .filter(F.col("xref").startswith("Ensembl"))
        .withColumn("ncbi_id", F.explode(F.split("xref", ":")))
        .filter(F.col("ncbi_id").startswith("ENSG"))
        .select(
            "ncbi_id",
            safe_array_union("s", "od", "sy").alias("synonyms"),
            safe_array_union("s", "sy").alias("symbolSynonyms"),
            safe_array_union("od").alias("nameSynonyms"),
        )
        .groupBy("ncbi_id")
        .agg(
            F.sort_array(F.flatten(F.collect_set("synonyms"))).alias("synonyms"),
            F.sort_array(F.flatten(F.collect_set("symbolSynonyms"))).alias("symbolSynonyms"),
            F.sort_array(F.flatten(F.collect_set("nameSynonyms"))).alias("nameSynonyms"),
        )
    )
    to_structs = lambda c: F.transform(  # noqa: E731
        F.filter(F.col(c), lambda x: x != "-"),
        lambda x: F.struct(x.alias("label"), F.lit("NCBI_entrez").alias("source")),
    )
    return base.select(
        "ncbi_id",
        to_structs("synonyms").alias("ncbiSynonyms"),
        to_structs("symbolSynonyms").alias("ncbiSymbolSynonyms"),
        to_structs("nameSynonyms").alias("ncbiNameSynonyms"),
    )


def tep_normalize(tep: DataFrame, lookup: DataFrame) -> DataFrame:
    """Tep.scala:22-34 + Target.scala:268-288 addTep: trimmed TEP rows mapped
    to ENSG through the symbol lookup, nested as one ``tep`` struct."""
    fields = ["targetFromSourceId", "description", "therapeuticArea", "url"]
    trimmed = tep.select(*[F.trim(F.col(f)).alias(f) for f in fields])
    lut = lookup.select(
        F.col("ensgId").alias("tep_id"), F.explode("name").alias("symbol")
    )
    return (
        trimmed.join(lut, lut["symbol"] == trimmed["targetFromSourceId"], "inner")
        .select("tep_id", F.struct(*fields).alias("tep"))
        .dropDuplicates(["tep_id"])
    )


def gene_code_normalize(df: DataFrame) -> DataFrame:
    """GeneCode.scala:14-43: GFF positional columns → canonical transcript
    struct per gene (version suffix stripped from ENSG/ENST ids, chromosome
    M→MT)."""
    return (
        df.filter((F.col("_c2") == "transcript") & F.col("_c8").contains("Ensembl_canonical"))
        .select(
            F.regexp_extract(F.col("_c8"), r"gene_id=(.*?);", 1).alias("gid"),
            F.regexp_extract(F.col("_c8"), r"transcript_id=(.*?);", 1).alias("tid"),
            F.regexp_extract(F.col("_c0"), r"([0-9]{1,2}|X|Y|M)", 1).alias("chromosome"),
            F.col("_c3").cast("long").alias("start"),
            F.col("_c4").cast("long").alias("end"),
            F.col("_c6").alias("strand"),
        )
        .select(
            F.regexp_extract("gid", r"(.*?)\.", 1).alias("gc_gene_id"),
            F.struct(
                F.regexp_extract("tid", r"(.*?)\.", 1).alias("id"),
                F.when(F.col("chromosome") == "M", "MT")
                .otherwise(F.col("chromosome"))
                .alias("chromosome"),
                F.col("start"),
                F.col("end"),
                F.col("strand"),
            ).alias("canonicalTranscript"),
        )
        .dropDuplicates(["gc_gene_id"])
    )


def gene_with_location_normalize(hpa: DataFrame, sl_locations: DataFrame | None = None) -> DataFrame:
    """GeneWithLocation.scala:26-86: HPA main/additional/extracellular
    locations (';'-separated) → per-gene location structs, left-joined to the
    subcellular-location ontology mapping."""
    def tagged(col: str, source: str):
        return F.transform(
            F.coalesce(F.split(F.col(col), ";"), F.array().cast("array<string>")),
            lambda x: F.struct(x.alias("location"), F.lit(source).alias("source")),
        )

    exploded = hpa.select(
        F.col("Gene").alias("gwl_id"),
        F.explode(
            F.concat(
                tagged("Main location", "HPA_main"),
                tagged("Additional location", "HPA_additional"),
                tagged("Extracellular location", "HPA_extracellular_location"),
            )
        ).alias("loc"),
    ).select("gwl_id", "loc.location", "loc.source")
    if sl_locations is not None:
        exploded = exploded.join(
            F.broadcast(sl_locations), F.col("location") == F.col("HPA_location"), "left"
        ).drop("HPA_location")
    else:
        exploded = exploded.withColumn("termSL", F.lit(None).cast("string")).withColumn(
            "labelSL", F.lit(None).cast("string")
        )
    return (
        exploded.select(
            "gwl_id", F.struct("location", "source", "termSL", "labelSL").alias("locations")
        )
        .groupBy("gwl_id")
        .agg(F.sort_array(F.collect_list("locations")).alias("locations"))
    )


# subcellular-location extraction regexes (Uniprot.scala:105-112, per
# opentargets/platform#1710)
_SSL_FIRST_WORDS = r"^([\w\s]+)"
_SSL_ISOFORMS = r"(\[.+\]:\s([\w\s]+))"
_SSL_LAST_AFTER_COMMA = r".*,\s([\w\s]+)"


def uniprot_normalize(uniprot: DataFrame, ssl: DataFrame | None = None) -> DataFrame:
    """Structured UniprotEntry rows → the Uniprot target annotation entity
    (target/Uniprot.scala:35-160): uniprotId = first accession, the three
    LabelAndSource synonym arrays (source 'uniprot'), functionDescriptions,
    obsolete-accession proteinIds, 'DB ID' xrefs re-split into (id, source)
    structs, and subcellular locations matched against the SSL ontology
    through the three-regex extraction with the isoform display override.
    """
    las = lambda c: F.transform(  # noqa: E731
        c, lambda x: F.struct(x.alias("label"), F.lit("uniprot").alias("source"))
    )
    empty = F.array().cast("array<string>")
    base = uniprot.where(F.size("accessions") > 0).select(
        F.element_at("accessions", 1).alias("uniprotId"),
        las(safe_array_union("names", "synonyms")).alias("nameSynonyms"),
        las(safe_array_union("symbolSynonyms")).alias("symbolSynonyms"),
        las(
            safe_array_union(
                F.coalesce(F.col("names"), empty),
                F.coalesce(F.col("symbolSynonyms"), empty),
            )
        ).alias("synonyms"),
        F.col("functions").alias("functionDescriptions"),
        F.transform(
            "dbXrefs",
            lambda x: F.struct(
                F.element_at(F.split(x, " "), 2).alias("id"),
                F.element_at(F.split(x, " "), 1).alias("source"),
            ),
        ).alias("dbXrefs"),
        F.transform(
            "accessions",
            lambda x: F.struct(x.alias("id"), F.lit("uniprot_obsolete").alias("source")),
        ).alias("proteinIds"),
        F.col("locations"),
    )
    loc = base.select(
        "uniprotId", F.explode("locations").alias("location")
    ).select(
        "uniprotId",
        "location",
        F.trim(F.regexp_extract("location", _SSL_FIRST_WORDS, 0)).alias("loc1"),
        F.trim(F.regexp_extract("location", _SSL_ISOFORMS, 1)).alias("iso"),
        F.trim(F.regexp_extract("location", _SSL_ISOFORMS, 2)).alias("loc2"),
        F.trim(F.regexp_extract("location", _SSL_LAST_AFTER_COMMA, 1)).alias("loc3"),
    )
    loc = (
        loc.withColumn(
            "ssl_match",
            F.when(F.col("loc1") != "", F.col("loc1"))
            .when(F.col("loc2") != "", F.col("loc2"))
            .when(F.col("loc3") != "", F.col("loc3")),
        )
        .withColumn(
            "location",
            F.when(F.col("iso") != "", F.col("iso")).otherwise(F.col("ssl_match")),
        )
        .drop("iso", "loc1", "loc2", "loc3")
        .where(F.col("location").isNotNull())
    )
    if ssl is not None:
        onto = ssl.select(
            F.col("`Subcellular location ID`").alias("termSL"),
            F.col("Name").alias("ssl_match"),
            F.col("Category").alias("labelSL"),
        )
        loc = loc.join(F.broadcast(onto), ["ssl_match"], "left")
    else:
        loc = loc.withColumn("termSL", F.lit(None).cast("string")).withColumn(
            "labelSL", F.lit(None).cast("string")
        )
    locations = (
        loc.select(
            "uniprotId",
            F.struct(
                "location", F.lit("uniprot").alias("source"), "termSL", "labelSL"
            ).alias("l"),
        )
        .groupBy("uniprotId")
        .agg(F.sort_array(F.collect_list("l")).alias("subcellularLocations"))
    )
    return base.drop("locations").join(locations, ["uniprotId"], "left")


def chemical_probes_normalize(probes: DataFrame, lookup: DataFrame) -> DataFrame:
    """Target.scala:427-448 addChemicalProbes: probes mapped to ENSG by
    symbol (array_contains expression join), nested per gene."""
    payload = [c for c in probes.columns if c != "ensgId"]
    joined = probes.join(
        F.broadcast(lookup.select("ensgId", "name")),
        F.expr("array_contains(name, targetFromSourceId)"),
    )
    return (
        joined.select(F.col("ensgId").alias("cp_id"), F.struct(*payload).alias("probe"))
        .groupBy("cp_id")
        .agg(F.sort_array(F.collect_set("probe")).alias("chemicalProbes"))
    )


def gene_essentiality(essentiality: DataFrame, lookup: DataFrame) -> DataFrame:
    """Target.scala:291-321 addGeneEssentiality: symbol-resolved DepMap
    essentiality rows nested per gene — the step's side output."""
    lut = lookup.select("ensgId", F.explode("name").alias("approvedTarget"))
    payload = [c for c in essentiality.columns if c != "targetSymbol"]
    joined = essentiality.join(
        F.broadcast(lut), lut["approvedTarget"] == essentiality["targetSymbol"], "inner"
    )
    return (
        joined.select(F.col("ensgId").alias("id"), F.struct(*payload).alias("ts"))
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("ts")).alias("geneEssentiality"))
    )
