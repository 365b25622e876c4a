"""Per-source target annotation normalizers (reference backend/target/*)."""

from __future__ import annotations

from pyspark.sql import functions as F

from platform_etl_backend_spark.steps.target_annotations import (
    add_homologues,
    ensg_symbol_lookup,
    gene_essentiality,
    genetic_constraints_normalize,
    hallmarks_normalize,
    ortholog_normalize,
    project_scores_normalize,
    safety_normalize,
    tractability_normalize,
)


def test_tractability_bucket_columns(spark):
    df = spark.createDataFrame(
        [("ENSG1", 1, 0, 3.5)],
        "ensembl_gene_id: string, `SM_B1_Approved Drug`: int, "
        "`AB_B3_Phase1`: int, ignored: double",
    )
    row = tractability_normalize(df).collect()[0]
    assert row.ensemblGeneId == "ENSG1"
    got = {(t.modality, t.id, t.value) for t in row.tractability}
    assert got == {("SM", "Approved Drug", True), ("AB", "Phase1", False)}


def test_genetic_constraints(spark):
    cols = (
        "gene_id: string, canonical: string, transcript_type: string, "
        "`syn.z_score`: string, `syn.exp`: string, `syn.obs`: string, `syn.oe`: string, "
        "`syn.oe_ci.lower`: string, `syn.oe_ci.upper`: string, "
        "`mis.z_score`: string, `mis.exp`: string, `mis.obs`: string, `mis.oe`: string, "
        "`mis.oe_ci.lower`: string, `mis.oe_ci.upper`: string, "
        "`lof.pLI`: string, `lof.exp`: string, `lof.obs`: string, `lof.oe`: string, "
        "`lof.oe_ci.lower`: string, `lof.oe_ci.upper`: string, "
        "`lof.oe_ci.upper_rank`: string, `lof.oe_ci.upper_bin_decile`: string"
    )

    def gene(gid, rank, canonical="true", ttype="protein_coding"):
        return (
            gid, canonical, ttype,
            "1.0", "10", "9", "0.9", "0.8", "1.1",
            "2.0", "20", "18", "0.9", "0.8", "1.1",
            "0.99", "5", "1", "0.2", "0.1", "0.4", rank, "1",
        )

    df = spark.createDataFrame(
        [gene(f"G{i:02d}", str(i + 1)) for i in range(6)]
        + [gene("G98", "NA"), gene("G99", "7", canonical="false")],
        cols,
    )
    out = {r.gc_id: r.constraint for r in genetic_constraints_normalize(df).collect()}
    assert "G99" not in out  # non-canonical filtered
    lof = {t.constraintType: t for t in out["G00"]}["lof"]
    assert lof.upperRank == 1 and lof.upperBin == 1
    syn = {t.constraintType: t for t in out["G00"]}["syn"]
    assert syn.upperRank is None and abs(syn.score - 1.0) < 1e-6
    # 6 ranked genes + 1 NA → sextiles 0..5 for ranked, null for NA
    sextiles = [
        {t.constraintType: t for t in out[f"G{i:02d}"]}["lof"].upperBin6 for i in range(6)
    ]
    assert sextiles == sorted(sextiles)
    assert {t.constraintType: t for t in out["G98"]}["lof"].upperBin6 is None


def test_project_scores(spark):
    scores = spark.createDataFrame(
        [("GID1", "ENSG1", "SYMA"), ("GID2", "ENSG2", "SYMB"), ("GID3", None, "SYMC")],
        "gene_id: string, ensembl_gene_id: string, hgnc_symbol: string",
    )
    matrix = spark.createDataFrame(
        [("SYMA", 1, 0), ("SYMB", 0, 0), ("SYMC", 1, 1)],
        "Gene: string, line1: int, line2: int",
    )
    rows = {r.ps_id: r.xRef for r in project_scores_normalize(scores, matrix).collect()}
    assert list(rows) == ["ENSG1"]  # SYMB total=0 dropped, SYMC null ensg dropped
    assert rows["ENSG1"][0].asDict() == {"id": "GID1", "source": "ProjectScore"}


def _ortholog_fixtures(spark):
    hdict = spark.createDataFrame(
        [("Human", "homo_sapiens", "9606"), ("Mouse", "mus_musculus", "10090"),
         ("Alien", "zz_alien", "99999")],
        "`#name`: string, species: string, taxonomy_id: string",
    )
    coding = spark.createDataFrame(
        [
            # human -> mouse homology (forward row)
            ("ENSG1", "homo_sapiens", "90.0", "ortholog_one2one",
             "MUSG1", "mus_musculus", "85.0", "1"),
            # mouse -> human (reverse row; must be swapped into scope)
            ("MUSG2", "mus_musculus", "70.0", "ortholog_one2one",
             "ENSG1", "homo_sapiens", "75.0", "0"),
            # human paralog
            ("ENSG1", "homo_sapiens", "50.0", "within_species_paralog",
             "ENSG2", "homo_sapiens", "55.0", "1"),
            # non-whitelisted species target
            ("ENSG1", "homo_sapiens", "10.0", "ortholog_one2one",
             "ALIEN1", "zz_alien", "10.0", "0"),
        ],
        "gene_stable_id: string, species: string, identity: string, homology_type: string, "
        "homology_gene_stable_id: string, homology_species: string, "
        "homology_identity: string, is_high_confidence: string",
    )
    gdict = spark.createDataFrame(
        [("MUSG1", "Sym1"), ("MUSG2", ""), ("ENSG2", None)], "id: string, name: string"
    )
    species = ["9606-human", "10090-mouse"]
    return hdict, coding, gdict, species


def test_ortholog_normalize(spark):
    hdict, coding, gdict, species = _ortholog_fixtures(spark)
    out = ortholog_normalize(hdict, coding, gdict, species).collect()
    by_target = {r.targetGeneId: r for r in out}
    assert "ALIEN1" not in by_target  # whitelist filter
    # human paralog present in both directions (forward + swapped), priority 0
    assert by_target["ENSG2"].priority == 0
    assert by_target["ENSG1"].homologyType == "within_species_paralog"
    m = by_target["MUSG1"]
    assert (m.id, m.speciesName, m.priority) == ("ENSG1", "Mouse", 1)
    assert m.queryPercentageIdentity == 90.0 and m.targetPercentageIdentity == 85.0
    assert m.targetGeneSymbol == "Sym1"
    # swapped reverse row: human gene becomes the subject, identities swapped
    rev = by_target["MUSG2"]
    assert rev.id == "ENSG1" and rev.queryPercentageIdentity == 75.0
    assert rev.targetGeneSymbol == "MUSG2"  # empty name falls back to id


def test_add_homologues_priority_sort(spark):
    hdict, coding, gdict, species = _ortholog_fixtures(spark)
    orthologs = ortholog_normalize(hdict, coding, gdict, species)
    core = spark.createDataFrame(
        [("ENSG1", "SYMA"), ("ENSG2", "SYMB")], "id: string, approvedSymbol: string"
    )
    rows = {r.id: r for r in add_homologues(core, orthologs).collect()}
    h = rows["ENSG1"].homologues
    # human paralog (priority 0) sorts before the two mouse rows (priority 1)
    assert [x.targetGeneId for x in h] == ["ENSG2", "MUSG1", "MUSG2"]
    # paralog symbol resolved from the core itself, not the gene dict
    assert h[0].targetGeneSymbol == "SYMB"
    # the swapped paralog direction attaches to ENSG2
    assert [x.targetGeneId for x in rows["ENSG2"].homologues] == ["ENSG1"]


def test_safety_normalize(spark):
    safety = spark.createDataFrame(
        [
            ("ENSG1", None, "heart burn", "EFO:OLD", "tox"),
            (None, "SYMA", "dizzy", "EFO:2", "ToxCast"),
            (None, "NOPE", "lost", "EFO:3", "ToxCast"),
        ],
        "id: string, targetFromSourceId: string, event: string, "
        "eventId: string, datasource: string",
    )
    lookup = spark.createDataFrame(
        [("ENSG1", ["SYMA", "P1"])], "ensgId: string, name: array<string>"
    )
    diseases = spark.createDataFrame(
        [("EFO:NEW", ["EFO:OLD"])], "id: string, obsoleteTerms: array<string>"
    )
    out = safety_normalize(safety, lookup, diseases).collect()
    by_id = {r.safety_id: r.safetyLiabilities for r in out}
    events = {s.event: s for s in by_id["ENSG1"]}
    assert set(events) == {"heart burn", "dizzy"}  # symbol-rescued row merged
    assert events["heart burn"].eventId == "EFO:NEW"  # obsolete EFO replaced
    assert None in by_id  # unmappable ToxCast row keeps null id (reference behavior)


def test_hallmarks_split(spark):
    df = spark.createDataFrame(
        [
            ("SYMA", "1", "angiogenesis", "promotes", "desc-a"),
            ("SYMA", "2", "some note", None, "desc-b"),
        ],
        "GENE_SYMBOL: string, PUBMED_PMID: string, HALLMARK: string, "
        "IMPACT: string, DESCRIPTION: string",
    )
    row = hallmarks_normalize(df).collect()[0]
    assert row.approvedSymbol == "SYMA"
    assert row.hallmarks.cancerHallmarks[0].label == "angiogenesis"
    assert row.hallmarks.cancerHallmarks[0].pmid == 1
    assert row.hallmarks.attributes[0].name == "some note"


def test_gene_essentiality_side_output(spark):
    core = spark.createDataFrame(
        [("ENSG1", "SYMA", [("P1", "uniprot")], ["alias1"])],
        "id: string, approvedSymbol: string, "
        "proteinIds: array<struct<id:string,source:string>>, synonyms: array<string>",
    )
    lookup = ensg_symbol_lookup(core)
    names = lookup.collect()[0].name
    assert {"SYMA", "P1", "alias1"} <= set(names)
    ess = spark.createDataFrame(
        [("alias1", 0.9, "depmap"), ("other", 0.1, "depmap")],
        "targetSymbol: string, score: double, source: string",
    )
    out = gene_essentiality(ess, lookup).collect()
    assert len(out) == 1
    assert out[0].id == "ENSG1"
    assert out[0].geneEssentiality[0].score == 0.9


def test_target_step_full_annotation_wiring(spark):
    from tests.test_target_step import SCHEMA, GENES
    from platform_etl_backend_spark.steps import run_step

    genes = spark.createDataFrame(GENES, SCHEMA)
    tract = spark.createDataFrame(
        [("ENSG001", 1)], "ensembl_gene_id: string, SM_B1_Approved: int"
    )
    hallmarks = spark.createDataFrame(
        [("SYM1", "3", "angiogenesis", "promotes", "d")],
        "GENE_SYMBOL: string, PUBMED_PMID: string, HALLMARK: string, "
        "IMPACT: string, DESCRIPTION: string",
    )
    ess = spark.createDataFrame(
        [("SYM1", 0.5, "depmap")], "targetSymbol: string, score: double, source: string"
    )
    out = run_step(
        spark,
        "target",
        {"ensembl": genes, "tractability": tract, "hallmarks": hallmarks,
         "gene_essentiality": ess},
    )
    t = {r.id: r for r in out["target"].collect()}["ENSG001"]
    assert t.tractability[0].modality == "SM" and t.tractability[0].value
    assert t.hallmarks.cancerHallmarks[0].label == "angiogenesis"
    assert t.tss == 100
    side = out["targetEssentiality"].collect()
    assert side[0].id == "ENSG001" and side[0].geneEssentiality[0].score == 0.5


def test_ncbi_normalize(spark):
    from platform_etl_backend_spark.steps.target_annotations import ncbi_normalize

    df = spark.createDataFrame(
        [
            ("BRCA1", "MIM:604370|Ensembl:ENSG001|HGNC:1100", "RNF53|PPP1R53", "ring finger 53"),
            ("XYZ", "MIM:1", "-", "-"),  # no ensembl xref: dropped
        ],
        "Symbol: string, dbXrefs: string, Synonyms: string, Other_designations: string",
    )
    rows = ncbi_normalize(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.ncbi_id == "ENSG001"
    labels = {s.label for s in r.ncbiSynonyms}
    assert labels == {"RNF53", "PPP1R53", "ring finger 53", "BRCA1"}
    assert all(s.source == "NCBI_entrez" for s in r.ncbiSynonyms)
    assert {s.label for s in r.ncbiNameSynonyms} == {"ring finger 53"}


def test_gene_code_normalize(spark):
    from platform_etl_backend_spark.steps.target_annotations import gene_code_normalize

    df = spark.createDataFrame(
        [
            ("chrM", "x", "transcript", 5, 99,
             ".", "+", ".", "gene_id=ENSG99.7;transcript_id=ENST99.2;tag=Ensembl_canonical;"),
            ("chr17", "x", "transcript", 100, 200,
             ".", "-", ".", "gene_id=ENSG01.3;transcript_id=ENST01.1;tag=Ensembl_canonical;"),
            ("chr17", "x", "gene", 100, 200, ".", "-", ".", "gene_id=ENSG01.3;"),
        ],
        "_c0: string, _c1: string, _c2: string, _c3: long, _c4: long, "
        "_c5: string, _c6: string, _c7: string, _c8: string",
    )
    rows = {r.gc_gene_id: r.canonicalTranscript for r in gene_code_normalize(df).collect()}
    assert set(rows) == {"ENSG99", "ENSG01"}
    ct = rows["ENSG01"]
    assert (ct.id, ct.chromosome, ct.start, ct.end, ct.strand) == (
        "ENST01", "17", 100, 200, "-")
    assert rows["ENSG99"].chromosome == "MT"


def test_gene_with_location_normalize(spark):
    from platform_etl_backend_spark.steps.target_annotations import (
        gene_with_location_normalize,
    )

    hpa = spark.createDataFrame(
        [("ENSG001", "Nucleoplasm;Cytosol", "Vesicles", None)],
        "`Gene`: string, `Main location`: string, `Additional location`: string, "
        "`Extracellular location`: string",
    )
    sl = spark.createDataFrame(
        [("Cytosol", "SL-0091", "Cytosol term")],
        "HPA_location: string, termSL: string, labelSL: string",
    )
    rows = gene_with_location_normalize(hpa, sl).collect()
    locs = {(x.location, x.source, x.termSL) for x in rows[0].locations}
    assert ("Nucleoplasm", "HPA_main", None) in locs
    assert ("Cytosol", "HPA_main", "SL-0091") in locs
    assert ("Vesicles", "HPA_additional", None) in locs


def test_tep_and_chemical_probes(spark):
    from platform_etl_backend_spark.steps.target_annotations import (
        chemical_probes_normalize,
        tep_normalize,
    )

    lookup = spark.createDataFrame(
        [("ENSG001", ["SYM1", "P1"])], "ensgId: string, name: array<string>"
    )
    tep = spark.createDataFrame(
        [(" SYM1 ", "tep desc", "oncology", "http://tep")],
        "targetFromSourceId: string, description: string, therapeuticArea: string, url: string",
    )
    t = tep_normalize(tep, lookup).collect()
    assert t[0].tep_id == "ENSG001" and t[0].tep.description == "tep desc"
    assert t[0].tep.targetFromSourceId == "SYM1"  # trimmed

    probes = spark.createDataFrame(
        [("SYM1", "probe-1", 90), ("NOPE", "probe-2", 10)],
        "targetFromSourceId: string, id: string, probesDrugsScore: int",
    )
    cp = chemical_probes_normalize(probes, lookup).collect()
    assert len(cp) == 1 and cp[0].cp_id == "ENSG001"
    assert [p.id for p in cp[0].chemicalProbes] == ["probe-1"]


def test_target_step_genecode_ncbi_hpa_wiring(spark):
    from tests.test_target_step import SCHEMA, GENES
    from platform_etl_backend_spark.steps import run_step

    genes = spark.createDataFrame(GENES, SCHEMA)
    gene_code = spark.createDataFrame(
        [("chr1", "x", "transcript", 150, 4000, ".", "-", ".",
          "gene_id=ENSG001.5;transcript_id=ENST001.9;tag=Ensembl_canonical;")],
        "_c0: string, _c1: string, _c2: string, _c3: long, _c4: long, "
        "_c5: string, _c6: string, _c7: string, _c8: string",
    )
    ncbi = spark.createDataFrame(
        [("SYM1", "Ensembl:ENSG001", "EXTRA1", "-")],
        "Symbol: string, dbXrefs: string, Synonyms: string, Other_designations: string",
    )
    hpa = spark.createDataFrame(
        [("ENSG001", "Nucleoplasm", None, None)],
        "`Gene`: string, `Main location`: string, `Additional location`: string, "
        "`Extracellular location`: string",
    )
    out = run_step(
        spark, "target",
        {"ensembl": genes, "gene_code": gene_code, "ncbi": ncbi, "hpa": hpa},
    )["target"]
    t = {r.id: r for r in out.collect()}["ENSG001"]
    # tss now follows the canonical transcript ('-' strand -> end)
    assert t.canonicalTranscript.id == "ENST001" and t.tss == 4000
    assert "EXTRA1" in t.synonyms and "SYM1" in t.synonyms
    assert t.locations[0].location == "Nucleoplasm"
