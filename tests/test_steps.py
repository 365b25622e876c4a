from __future__ import annotations

import textwrap

import pytest

from platform_etl_backend_spark.sources.flatfile import (
    parse_obo,
    read_delimited_records,
    read_obo,
    parse_uniprot_records,
)
from platform_etl_backend_spark.steps import run_step
from platform_etl_backend_spark.steps.embedding import export_vectors, train_word2vec

OBO_SAMPLE = textwrap.dedent("""\
    format-version: 1.2

    [Term]
    id: GO:0000001
    name: mitochondrion inheritance
    is_a: GO:0048308 ! organelle inheritance
    is_a: GO:0048311 ! mitochondrion distribution

    [Term]
    id: GO:0000002
    name: obsolete thing
    is_obsolete: true

    [Typedef]
    id: part_of
    name: part of
""")

UNIPROT_SAMPLE = (
    "ID   001R_FRG3G              Reviewed;         256 AA.\n"
    "AC   Q6GZX4; A1A1A1;\n"
    "DE   RecName: Full=Putative transcription factor 001R;\n"
    "GN   ORFNames=FV3-001R;\n"
    "DR   EMBL; AY548484; AAT09660.1; -; Genomic_DNA.\n"
    "CC   -!- FUNCTION: Transcription activation.\n"
    "//\n"
    "ID   002L_FRG3G              Reviewed;         320 AA.\n"
    "AC   Q6GZX3;\n"
    "DE   RecName: Full=Uncharacterized protein 002L;\n"
    "//\n"
)


def test_parse_obo(tmp_path):
    p = tmp_path / "go.obo"
    p.write_text(OBO_SAMPLE)
    terms = list(parse_obo(str(p)))
    assert len(terms) == 2
    assert terms[0]["id"] == "GO:0000001"
    assert terms[0]["is_a"] == ["GO:0048308", "GO:0048311"]
    assert terms[1]["obsolete"] is True


def test_go_step(spark, tmp_path):
    p = tmp_path / "go.obo"
    p.write_text(OBO_SAMPLE)
    out = run_step(spark, "go", {"go_terms": read_obo(spark, str(p))})["go"]
    rows = out.collect()
    assert [(r.id, r.name) for r in rows] == [("GO:0000001", "mitochondrion inheritance")]


def test_unknown_step_raises(spark):
    with pytest.raises(ValueError, match="unknown step"):
        run_step(spark, "nope", {})


def test_read_delimited_records(spark, tmp_path):
    p = tmp_path / "uniprot.txt"
    p.write_text(UNIPROT_SAMPLE)
    recs = read_delimited_records(spark, str(p), "//\n")
    assert recs.count() == 2


def test_parse_uniprot_records(spark, tmp_path):
    p = tmp_path / "uniprot.txt"
    p.write_text(UNIPROT_SAMPLE)
    out = parse_uniprot_records(read_delimited_records(spark, str(p), "//\n"))
    rows = {r.entry_name: r for r in out.collect()}
    assert set(rows) == {"001R_FRG3G", "002L_FRG3G"}
    assert rows["001R_FRG3G"].accessions == ["Q6GZX4", "A1A1A1"]
    assert rows["002L_FRG3G"].accessions == ["Q6GZX3"]
    assert any("Putative transcription factor" in d for d in rows["001R_FRG3G"].descriptions)
    assert rows["001R_FRG3G"].names == ["Putative transcription factor 001R"]
    assert rows["001R_FRG3G"].symbolSynonyms == ["FV3-001R"]
    assert rows["001R_FRG3G"].functions == ["Transcription activation."]


UNIPROT_P53 = (
    "ID   P53_HUMAN               Reviewed;         393 AA.\n"
    "AC   P04637; Q15086; Q15087;\n"
    "AC   Q16535;\n"
    "DE   RecName: Full=Cellular tumor antigen p53 {ECO:0000305};\n"
    "DE   AltName: Full=Antigen NY-CO-13;\n"
    "DE   AltName: Full=Phosphoprotein p53;\n"
    "DE   AltName: CD_antigen=CD999;\n"
    "DE            Short=p53;\n"
    "GN   Name=TP53 {ECO:0000303}; Synonyms=P53, TRP53;\n"
    "GN   ORFNames=AB001-1;\n"
    "DR   EMBL; X02469; CAA26306.1; -; mRNA.\n"
    "DR   ChEMBL; CHEMBL4096; -.\n"
    "DR   Ensembl; ENST00000269305.9; ENSP00000269305.4; ENSG00000141510.19.\n"
    "DR   GO; GO:0005634; C:nucleus; IDA:UniProtKB.\n"
    "DR   PDB; 1A1U; NMR; -; A/B=324-358.\n"
    "CC   -!- FUNCTION: Acts as a tumor suppressor in many tumor types;\n"
    "CC       induces growth arrest or apoptosis. {ECO:0000269}.\n"
    "CC   -!- SUBCELLULAR LOCATION: Cytoplasm {ECO:0000269}. Nucleus\n"
    "CC       {ECO:0000269}. Note=Interaction with BANP promotes nuclear\n"
    "CC       localization.\n"
    "CC   -!- INTERACTION: Self; NbExp=999;\n"
    "CC   ---------------------------------------------------------------------\n"
    "CC   Copyrighted by the UniProt Consortium. License: CC BY 4.0\n"
    "CC   ---------------------------------------------------------------------\n"
    "//\n"
)


def test_parse_uniprot_structured_entry(spark, tmp_path):
    """UniprotConverter.scala:51-95 structured-entry parity on a realistic
    record: DE name classification, GN symbols, DR db-of-interest xrefs,
    CC concatenation + FUNCTION/SUBCELLULAR LOCATION partition, license
    footer cut."""
    p = tmp_path / "p53.txt"
    p.write_text(UNIPROT_P53)
    [r] = parse_uniprot_records(read_delimited_records(spark, str(p), "//\n")).collect()
    assert r.entry_name == "P53_HUMAN"
    assert r.accessions == ["P04637", "Q15086", "Q15087", "Q16535"]
    # evidence braces stripped; RecName/AltName classified
    assert r.names == ["Cellular tumor antigen p53"]
    assert r.synonyms == ["Antigen NY-CO-13", "Phosphoprotein p53"]
    # GN Name + Synonyms (comma-split) + ORFNames, then DE CD_antigen/Short
    assert r.symbolSynonyms == ["TP53", "P53", "TRP53", "AB001-1", "CD999", "p53"]
    # only dbs of interest, as 'DB ID' strings (EMBL excluded)
    assert r.dbXrefs == [
        "ChEMBL CHEMBL4096",
        "Ensembl ENST00000269305.9",
        "GO GO:0005634",
        "PDB 1A1U",
    ]
    # multi-line comment concatenated; INTERACTION + license footer dropped
    assert r.functions == [
        "Acts as a tumor suppressor in many tumor types; induces growth "
        "arrest or apoptosis. ."
    ]
    # locations: Note= tail dropped, refs removed, sentences split
    assert r.locations == ["Cytoplasm", "Nucleus"]


def test_reactome_step(spark):
    pathways = spark.createDataFrame(
        [
            ("R-1", "root", "Homo sapiens"),
            ("R-2", "mid", "Homo sapiens"),
            ("R-3", "leaf", "Homo sapiens"),
            ("R-X", "mouse thing", "Mus musculus"),
        ],
        ["_c0", "_c1", "_c2"],
    )
    relations = spark.createDataFrame(
        [("R-1", "R-2"), ("R-2", "R-3"), ("R-1", "R-X")], ["_c0", "_c1"]
    )
    out = run_step(spark, "reactome", {"pathways": pathways, "relations": relations})[
        "reactome"
    ]
    rows = {r.id: r for r in out.collect()}
    assert set(rows) == {"R-1", "R-2", "R-3"}  # mouse filtered
    assert rows["R-3"].ancestors == ["R-1", "R-2"]
    assert rows["R-1"].isRoot and not rows["R-1"].isLeaf
    assert rows["R-3"].isLeaf
    assert rows["R-3"].path == [["R-1", "R-2", "R-3"]]
    assert rows["R-1"].path == [["R-1"]]


def test_reactome_step_cyclic_input_is_acyclic_and_partition_invariant(spark):
    """A 2-cycle, a self-loop, a null endpoint and a non-human pathway:
    the five graph columns come from one acyclic graph, so no pathway is
    its own ancestor and the lists agree with each other and with the
    root paths — whatever the partitioning or the order the relations
    arrive in."""
    pathways = spark.createDataFrame(
        [
            ("r", "root", "Homo sapiens"),
            ("a", "A", "Homo sapiens"),
            ("b", "B", "Homo sapiens"),
            ("x", "mouse thing", "Mus musculus"),
        ],
        ["_c0", "_c1", "_c2"],
    )
    rels = [("r", "a"), ("a", "b"), ("b", "a"), ("b", "b"), (None, "a"), ("r", "x")]

    def run(relations):
        out = run_step(spark, "reactome", {"pathways": pathways, "relations": relations})
        return sorted(out["reactome"].collect())

    schema = "_c0: string, _c1: string"
    base = run(spark.createDataFrame(rels, schema))
    rows = {r.id: r for r in base}
    assert set(rows) == {"r", "a", "b"}
    for r in base:
        assert r.id not in r.ancestors
        assert set(r.parents) <= set(r.ancestors)
        assert set(r.children) <= set(r.descendants)
        assert r.path
        for p in r.path:
            assert rows[p[0]].isRoot and p[-1] == r.id

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        for n in ("1", "32"):
            spark.conf.set(key, n)
            assert run(spark.createDataFrame(rels, schema)) == base
    finally:
        spark.conf.set(key, prev)
    assert run(spark.createDataFrame(rels[::-1], schema)) == base
    assert run(spark.createDataFrame(rels, schema).repartition(3)) == base


def test_word2vec_deterministic_when_single_partition_seeded(spark):
    """Determinism contract (see train_word2vec docstring): with a fixed
    seed AND numPartitions=1 the trained vectors, their export, and the
    cosine-synonym ordering are identical across runs. (The reference's
    production numPartitions=16 trades this away for speed — Hogwild-style
    updates race across partitions; same trade here, documented.)"""
    sents = spark.createDataFrame(
        [(["spark", "query", "engine", "fast"],),
         (["spark", "fast", "engine", "scan"],),
         (["query", "scan", "plan", "spark"],)] * 7,
        "tokens: array<string>",
    )

    def run():
        model = train_word2vec(
            sents, vector_size=8, num_partitions=1, max_iter=2, seed=42
        )
        vecs = sorted(
            (r.category, r.word, r.norm, tuple(r.vector))
            for r in export_vectors(model).collect()
        )
        syns = [(r.word, round(r.similarity, 6))
                for r in model.findSynonyms("spark", 3).collect()]
        return vecs, syns

    first, second = run(), run()
    assert first[0] == second[0]  # vectors + norms bit-identical
    assert first[1] == second[1]  # synonym ranking stable


def test_word2vec_roundtrip(spark, tmp_path):
    sents = spark.createDataFrame(
        [(["spark", "query", "engine"],), (["spark", "fast", "engine"],)] * 5,
        "tokens: array<string>",
    )
    model = train_word2vec(sents, vector_size=8, num_partitions=2, max_iter=1)
    vecs = export_vectors(model)
    rows = vecs.collect()
    assert {r.word for r in rows} == {"spark", "query", "engine", "fast"}
    assert all(len(r.vector) == 8 for r in rows)
    assert all(r.norm >= 0 for r in rows)
    path = str(tmp_path / "w2v")
    model.save(path)
    from pyspark.ml.feature import Word2VecModel

    reloaded = Word2VecModel.load(path)
    assert reloaded.getVectors().count() == 4
