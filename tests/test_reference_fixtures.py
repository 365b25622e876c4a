"""Parity tests that run the engine's step normalizers over the REFERENCE's
own test resource files (public data fixtures under
``/root/reference/src/test/resources`` — data only, no reference code), and
assert the same expectations its unit tests assert:

- UniprotConverterTest: sample_1/sample_10 record counts, OGA_HUMAN id,
  db-of-interest xrefs, RecName/AltName/Short classification, multi-line
  GN Synonyms.
- NcbiTest: ncbi_100.tsv.gz converts without error, rows > 0 — plus a
  concrete row check (A1BG → ENSG00000121410 synonyms).
- HgncTest: one output row per distinct ensembl_gene_id.
- StringProteinTest: the nested shape exposes exactly the expected columns
  {interaction, interactorA, interactorB, source_info}.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

REF = "/root/reference/src/test/resources"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference test resources not available"
)


# ---------------------------------------------------------------------------
# UniprotKB flat file (UniprotConverterTest.scala expectations)
# ---------------------------------------------------------------------------

def _parse_uniprot(spark, path):
    from platform_etl_backend_spark.sources.flatfile import (
        parse_uniprot_records,
        read_delimited_records,
    )

    return parse_uniprot_records(read_delimited_records(spark, path, "//\n"))


def test_uniprot_sample_1_single_entry_dbs_of_interest(spark):
    from platform_etl_backend_spark.sources.flatfile import UNIPROT_DBS

    parsed = _parse_uniprot(spark, f"{REF}/uniprot/sample_1.txt")
    rows = parsed.collect()
    assert len(rows) == 1
    dbs = {d.rstrip(";") for d in UNIPROT_DBS}
    assert rows[0].dbXrefs, "expected at least one db xref of interest"
    assert all(x.split(" ")[0] in dbs for x in rows[0].dbXrefs), rows[0].dbXrefs[:5]


def test_uniprot_sample_10_oga_human_entry(spark):
    parsed = _parse_uniprot(spark, f"{REF}/uniprot/sample_10.txt")
    assert parsed.count() == 10
    r = parsed.where(F.col("entry_name") == "OGA_HUMAN").collect()[0]
    # AC lines, in order, first accession primary
    assert r.accessions[0] == "O60502"
    assert len(r.accessions) == 9
    # RecName: Full → names; AltName: Full → synonyms; Short/CD_antigen → symbols
    assert r.names == ["Protein O-GlcNAcase"]
    assert "Beta-N-acetylglucosaminidase" in r.synonyms
    assert "Meningioma-expressed antigen 5" in r.synonyms
    # GN Name + multi-LINE Synonyms continuation both captured
    for sym in ("OGA", "HEXC", "KIAA0679", "MEA5", "MGEA5", "NCOAT"):
        assert sym in r.symbolSynonyms, (sym, r.symbolSynonyms)
    # CC partition: FUNCTION vs SUBCELLULAR LOCATION
    assert any("Cleaves GlcNAc" in f for f in r.functions)
    assert any("Nucleus" in loc for loc in r.locations)


# ---------------------------------------------------------------------------
# NCBI gene_info (NcbiTest.scala expectations + concrete row)
# ---------------------------------------------------------------------------

def test_ncbi_100_converts_and_maps_a1bg(spark):
    from platform_etl_backend_spark.steps.target_annotations import ncbi_normalize

    df = (
        spark.read.option("header", True)
        .option("sep", "\t")
        .csv(f"{REF}/target/ncbi_100.tsv.gz")
    )
    out = ncbi_normalize(df)
    assert out.count() > 0
    a1bg = out.where(F.col("ncbi_id") == "ENSG00000121410").collect()
    assert len(a1bg) == 1
    labels = {s.label for s in a1bg[0].ncbiSymbolSynonyms}
    assert {"A1B", "ABG", "GAB", "HYST2477"} <= labels
    assert all(s.source == "NCBI_entrez" for s in a1bg[0].ncbiSymbolSynonyms)


# ---------------------------------------------------------------------------
# HGNC (HgncTest.scala: no loss — one row per distinct ensembl gene id)
# ---------------------------------------------------------------------------

def test_hgnc_accretion_preserves_every_gene(spark):
    from platform_etl_backend_spark.steps.target import merge_hgnc

    hgnc = spark.read.json(f"{REF}/target/hgnc_test.jsonl")
    genes = (
        hgnc.where(F.col("ensembl_gene_id").isNotNull())
        .select(F.col("ensembl_gene_id").alias("id"))
        .distinct()
    )
    n_genes = genes.count()
    assert n_genes > 0
    merged = merge_hgnc(genes, hgnc)
    assert merged.count() == n_genes
    # synonym accretion actually lands for genes with alias symbols
    assert merged.where(F.size("synonyms") > 0).count() > 0


# ---------------------------------------------------------------------------
# STRING protein links (StringProteinTest.scala: nested shape columns)
# ---------------------------------------------------------------------------

def test_string_links_nested_shape(spark):
    from platform_etl_backend_spark.steps.interaction import string_to_intact_shape

    df = (
        spark.read.format("csv")
        .option("delimiter", " ")
        .option("header", True)
        .load(f"{REF}/9606.protein.links.test.v11.0.txt.gz")
    )
    out = string_to_intact_shape(df, score_threshold=0)
    assert {"interaction", "interactorA", "interactorB", "source_info"} <= set(out.columns)
    rows = out.limit(5).collect()
    assert rows
    for r in rows:
        assert r.interactorA.id.startswith("ENSP")  # taxon prefix stripped
        assert r.interactorA.id_source == "ensembl_protein"
        assert r.source_info.source_database == "string"
        assert len(r.interaction.evidence) > 0


# ---------------------------------------------------------------------------
# Tractability (TractabilityTest.scala: 50 rows, modality ∈ {SM,OC,PR,AB})
# ---------------------------------------------------------------------------

def test_tractability_50_modalities(spark):
    from platform_etl_backend_spark.steps.target_annotations import tractability_normalize

    df = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .csv(f"{REF}/target/tractability_50.csv.gz")
    )
    out = tractability_normalize(df)
    assert out.count() == 50
    row = out.where(F.col("ensemblGeneId") == "ENSG00000128052").collect()[0]
    assert row.tractability
    assert all(t.modality in {"SM", "OC", "PR", "AB"} for t in row.tractability)


# ---------------------------------------------------------------------------
# Genetic constraints (GeneticConstraintTest.scala: 49 output rows)
# ---------------------------------------------------------------------------

def test_gnomad_constraints_49_rows(spark):
    from platform_etl_backend_spark.steps.target_annotations import (
        genetic_constraints_normalize,
    )

    df = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .csv(f"{REF}/target/gnomad_lof.csv")
    )
    out = genetic_constraints_normalize(df)
    assert out.count() == 49  # reference: 50 minus one non-canonical row
    r = out.limit(1).collect()[0]
    assert [c.constraintType for c in r.constraint] == ["syn", "mis", "lof"]


# ---------------------------------------------------------------------------
# COSMIC hallmarks (HallmarksTest.scala: symbol preservation + 10/12 kinds)
# ---------------------------------------------------------------------------

def test_hallmarks_symbols_and_annotation_kinds(spark):
    from platform_etl_backend_spark.steps.target_annotations import hallmarks_normalize

    raw = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .csv(f"{REF}/target/cosmic-hallmarks-2021-02-10.tsv.gz")
    )
    out = hallmarks_normalize(raw)
    assert (
        out.select("approvedSymbol").distinct().count()
        == raw.select("GENE_SYMBOL").distinct().count()
    )
    n_cancer_labels = (
        out.select(F.explode("hallmarks.cancerHallmarks").alias("ch"))
        .select("ch.label").distinct().count()
    )
    n_attr_names = (
        out.select(F.explode("hallmarks.attributes").alias("a"))
        .select("a.name").distinct().count()
    )
    assert n_cancer_labels == 10
    assert n_attr_names == 12


# ---------------------------------------------------------------------------
# GenCode canonical transcripts (GenCodeTest.scala invariants)
# ---------------------------------------------------------------------------

def test_gencode_canonical_transcripts(spark):
    from platform_etl_backend_spark.steps.target_annotations import gene_code_normalize

    raw = spark.read.json(f"{REF}/target/genCode50.jsonl")
    out = gene_code_normalize(raw)
    n = out.count()
    assert n > 0
    assert out.select("gc_gene_id").distinct().count() == n
    assert out.where(
        F.col("canonicalTranscript.start") > F.col("canonicalTranscript.end")
    ).count() == 0
    assert out.where(
        ~F.col("canonicalTranscript.strand").isin("+", "-")
    ).count() == 0


# ---------------------------------------------------------------------------
# HPA subcellular locations (GeneWithLocationTest.scala: 19 rows, 2 locs)
# ---------------------------------------------------------------------------

def test_hpa_gene_with_location(spark):
    from platform_etl_backend_spark.steps.target_annotations import (
        gene_with_location_normalize,
    )

    read = lambda p: spark.read.option("sep", "\t").option("header", True).csv(p)  # noqa: E731
    out = gene_with_location_normalize(
        read(f"{REF}/target/hpa_20.tsv"), read(f"{REF}/target/hpa_sl.tsv")
    )
    assert out.count() == 19
    row = out.where(F.col("gwl_id") == "ENSG00000001629").collect()[0]
    assert len(row.locations) == 2


# ---------------------------------------------------------------------------
# TEP (TepTest.scala: conversion without loss)
# ---------------------------------------------------------------------------

def test_tep_no_loss(spark):
    from platform_etl_backend_spark.steps.target_annotations import tep_normalize

    tep = spark.read.json(f"{REF}/target/tep_test.json")
    # synthetic symbol->ENSG lookup covering every TEP symbol, so the join
    # itself is what's under test (the reference's no-loss assertion)
    lookup = (
        tep.select(F.col("targetFromSourceId").alias("symbol"))
        .distinct()
        .select(
            F.concat(F.lit("ENSG_"), "symbol").alias("ensgId"),
            F.array("symbol").alias("name"),
        )
    )
    out = tep_normalize(tep, lookup)
    assert out.count() == tep.select("targetFromSourceId").distinct().count()


# ---------------------------------------------------------------------------
# Safety (SafetyTest.scala: ToxCast rescue by symbol + full assembly)
# ---------------------------------------------------------------------------

def test_safety_toxcast_rescue_and_assembly(spark):
    from platform_etl_backend_spark.steps.target_annotations import safety_normalize

    safety = spark.read.json(f"{REF}/target/safety_100.jsonl")
    diseases = spark.read.json(f"{REF}/disease_obsolete_map.jsonl")
    lookup = spark.createDataFrame(
        [("ENSG1", ["ALPP"]), ("ENSG2", ["AR"]), ("ENSG3", ["PGR"])],
        "ensgId string, name array<string>",
    )
    toxcast = safety.where(F.col("datasource") == "ToxCast")
    rescued = safety_normalize(toxcast, lookup)
    assert rescued.where(F.col("safety_id").isNotNull()).count() == 3

    full = safety_normalize(safety, lookup, diseases)
    assert full.count() > 10


# ---------------------------------------------------------------------------
# OpenFDA FAERS stages (OpenFdaTest.scala expectations)
# ---------------------------------------------------------------------------

def test_openfda_drug_list_columns(spark):
    from platform_etl_backend_spark.steps.openfda import prepare_drug_list

    chembl = spark.read.json(f"{REF}/openfda/drug_test.json")
    out = prepare_drug_list(chembl)
    assert set(out.columns) == {"chembl_id", "drug_name"}
    assert out.count() > 0


def test_openfda_blacklist_filtering_removes_every_blacklisted_event(spark):
    from platform_etl_backend_spark.steps.openfda import (
        filter_blacklist,
        prepare_blacklist_data,
    )

    # the reference sample is the post-explode event shape
    # (drug_name, reaction_reactionmeddrapt) — EventsFiltering's exact input
    events = spark.read.json(f"{REF}/openfda/adverseEventSample.jsonl").withColumn(
        "reaction", F.col("reaction_reactionmeddrapt")
    )
    bl = prepare_blacklist_data(
        spark.read.option("sep", "\t")
        .option("ignoreLeadingWhiteSpace", True)
        .option("ignoreTrailingWhiteSpace", True)
        .csv(f"{REF}/openfda/blacklisted_events.txt")
    )
    filtered = filter_blacklist(events, bl)
    # the reference's assertion: every blacklist row anti-joins cleanly
    # against the filtered events (no blacklisted reaction survives)
    survivors = bl.join(
        filtered, filtered["reaction"] == bl["reactions"], "left_anti"
    )
    assert survivors.count() == bl.count()
    assert filtered.count() > 0


# ---------------------------------------------------------------------------
# Ensembl gene JSON (EnsemblTest.scala: near no-loss conversion + approved
# name extracted from the description's [Source:...] suffix)
# ---------------------------------------------------------------------------

def test_ensembl_homo_fixture_no_loss_and_approved_name(spark):
    from platform_etl_backend_spark.steps.target import ensembl_normalize

    # full Ensembl gene JSON incl. the uniprot mapping columns (sparse —
    # present on ~30 of 98 genes, which is what rescues swissprot-mapped
    # scaffold genes through the chromosome-or-swissprot filter)
    raw = spark.read.json(f"{REF}/target/homo_test.jsonl.gz")
    out = ensembl_normalize(raw)
    n_in, n_out = raw.count(), out.count()
    assert abs(n_in - n_out) <= 10  # reference: count ± 10
    r = out.where(F.col("id") == "ENSG00000201292").collect()
    if r:  # row survives the chromosome filter in the fixture
        assert r[0].approvedName == "RNA, U6 small nuclear 153, pseudogene"
        assert "[Source:" not in r[0].approvedName
    # every surviving description had its [Source:...] suffix stripped
    assert out.where(F.col("approvedName").contains("[Source:")).count() == 0
