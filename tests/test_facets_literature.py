from __future__ import annotations

from pyspark.sql import functions as F

from platform_etl_backend_spark.steps import run_step


def _targets(spark):
    return spark.createDataFrame(
        [
            (
                "ENSG1", "BRCA1", "breast cancer gene 1",
                [{"location": "nucleus", "source": "HPA", "termSl": "SL-0191"}],
                [{"label": "Enzyme", "level": "l1"}],
                [{"pathway": "DNA Repair", "pathwayId": "R-1"}],
                [{"id": "GO:1", "aspect": "P"}],
                [{"modality": "SM", "id": "High-Quality Pocket", "value": True},
                 {"modality": "AB", "id": "Surface", "value": False}],
            ),
            (
                "ENSG2", "TP53", "tumor protein p53",
                [], [], [], [{"id": "GO:1", "aspect": "P"}], [],
            ),
        ],
        "id: string, approvedSymbol: string, approvedName: string, "
        "subcellularLocations: array<struct<location:string,source:string,termSl:string>>, "
        "targetClass: array<struct<label:string,level:string>>, "
        "pathways: array<struct<pathway:string,pathwayId:string>>, "
        "go: array<struct<id:string,aspect:string>>, "
        "tractability: array<struct<modality:string,id:string,value:boolean>>",
    )


def test_search_facet_step(spark):
    go = spark.createDataFrame([("GO:1", "DNA repair")], ["id", "name"])
    diseases = spark.createDataFrame(
        [("EFO_1", "breast carcinoma", ["EFO_CANCER"]),
         ("EFO_CANCER", "cancer or benign tumor", None)],
        "id: string, name: string, therapeuticAreas: array<string>",
    )
    out = run_step(spark, "search_facet", {
        "targets": _targets(spark), "go": go, "diseases": diseases,
    })
    tf = out["facets_target"].collect()
    by_cat = {}
    for r in tf:
        by_cat.setdefault(r.category, []).append(r)
    assert {r.label for r in by_cat["Approved Symbol"]} == {"BRCA1", "TP53"}
    # subcellular location datasourceId carries the SL term id (termSl)
    assert by_cat["Subcellular Location"][0].datasourceId == "SL-0191"
    # pathway datasourceId carries the reactome pathway id
    assert by_cat["Reactome"][0].datasourceId == "R-1"
    # GO facet resolves names through the LUT and shares both entities
    go_rows = by_cat["GO:BP"]
    assert go_rows[0].label == "DNA repair"
    assert go_rows[0].datasourceId == "GO:1"
    assert sorted(go_rows[0].entityIds) == ["ENSG1", "ENSG2"]
    # tractability keeps only value==true, modality mapped
    tract = by_cat["Tractability Small Molecule"]
    assert [r.label for r in tract] == ["High-Quality Pocket"]
    assert "Tractability Antibody" not in by_cat

    df_rows = {r.category: r for r in out["facets_disease"].collect()
               if r.category == "Therapeutic Area" or r.label == "breast carcinoma"}
    # disease-name facets keep one row per disease (datasourceId = its id)
    assert df_rows["Disease"].datasourceId == "EFO_1"
    # TA label resolved through the disease self-join, datasourceId = TA id
    ta = df_rows["Therapeutic Area"]
    assert ta.label == "cancer or benign tumor"
    assert ta.datasourceId == "EFO_CANCER" and ta.entityIds == ["EFO_1"]


def test_search_facet_keys_are_unique(spark):
    """Each facet family aggregates on (label, category, datasourceId), so
    both outputs have one row per key, null labels included."""
    base = _targets(spark)
    targets = base.unionByName(spark.createDataFrame(
        [("ENSG3", "BRCA1", None,
          [{"location": "nucleus", "source": "UniProt", "termSl": "SL-0191"},
           {"location": "nucleus", "source": "HPA", "termSl": "SL-0191"}],
          [{"label": "Enzyme", "level": "l2"}, {"label": None, "level": "l1"}],
          [{"pathway": "DNA Repair", "pathwayId": "R-1"}] * 2,
          [{"id": "GO:1", "aspect": "P"}, {"id": "GO:2", "aspect": "P"}],
          [{"modality": "SM", "id": "High-Quality Pocket", "value": True}] * 2),
         ("ENSG4", None, None, None, None, None, None, None)],
        base.schema,
    ))
    go = spark.createDataFrame([("GO:1", "DNA repair")], ["id", "name"])
    diseases = spark.createDataFrame(
        [("EFO_1", "breast carcinoma", ["EFO_CANCER", "EFO_CANCER"]),
         ("EFO_2", "breast carcinoma", ["EFO_CANCER"]),
         ("EFO_3", None, None),
         ("EFO_CANCER", "cancer or benign tumor", None)],
        "id: string, name: string, therapeuticAreas: array<string>",
    )
    out = run_step(spark, "search_facet", {
        "targets": targets.repartition(3), "go": go, "diseases": diseases.repartition(3),
    })
    for name in ("facets_target", "facets_disease"):
        keys = [(r.label, r.category, r.datasourceId) for r in out[name].collect()]
        assert len(keys) == len(set(keys)), name


def test_search_step(spark):
    targets = spark.createDataFrame(
        [("ENSG1", "BRCA1", "breast cancer gene 1",
          ["RNF53", " BRCA1, early onset ", "  ,  "]),
         ("ENSG2", "TP53", "tumor protein p53", None)],
        "id: string, approvedSymbol: string, approvedName: string, synonyms: array<string>",
    )
    diseases = spark.createDataFrame(
        [("EFO_1", "breast carcinoma", ["cancer of breast"], None),
         ("EFO_2", "lung carcinoma", None, None)],
        "id: string, name: string, synonyms: array<string>, description: string",
    )
    associations = spark.createDataFrame(
        [("ENSG1", "EFO_1", 0.9), ("ENSG1", "EFO_2", 0.4), ("ENSG2", "EFO_2", 0.7)],
        ["targetId", "diseaseId", "score"],
    )
    evidence = spark.createDataFrame(
        [("ENSG1", "EFO_1", "CHEMBL1", 0.8)],
        ["targetId", "diseaseId", "drugId", "score"],
    )
    out = run_step(spark, "search", {
        "targets": targets, "diseases": diseases,
        "associations": associations, "evidence": evidence,
    })
    t = {r.id: r for r in out["search_target"].collect()}
    assert t["ENSG1"].terms == ["breast carcinoma", "lung carcinoma"]
    assert t["ENSG1"].terms5 == ["breast carcinoma", "lung carcinoma"]
    import math
    assert abs(t["ENSG1"].multiplier - (math.log1p(0.65) + 1.0)) < 1e-9
    assert "brca1" in t["ENSG1"].prefixes and "RNF53" in t["ENSG1"].keywords
    # flattenCat normalization (Helpers.scala:154-167): trim + comma-strip
    # BEFORE distinct; whitespace-only labels are dropped entirely.
    assert "BRCA1 early onset" in t["ENSG1"].keywords
    assert " BRCA1, early onset " not in t["ENSG1"].keywords
    assert "" not in t["ENSG1"].keywords
    assert "breast cancer" in t["ENSG1"].ngrams  # word bigram of the name
    d = {r.id: r for r in out["search_disease"].collect()}
    assert d["EFO_2"].terms == ["BRCA1", "TP53"]
    awd = out["associations_with_drugs"].collect()
    assert [(r.associationId, r.drugIds) for r in awd] == [("EFO_1-ENSG1", ["CHEMBL1"])]


def test_search_step_drug_index(spark):
    targets = spark.createDataFrame(
        [("ENSG1", "BRCA1", "g1", None)],
        "id: string, approvedSymbol: string, approvedName: string, synonyms: array<string>",
    )
    diseases = spark.createDataFrame(
        [("EFO_1", "breast carcinoma", None, None)],
        "id: string, name: string, synonyms: array<string>, description: string",
    )
    associations = spark.createDataFrame(
        [("ENSG1", "EFO_1", 0.9)], ["targetId", "diseaseId", "score"]
    )
    evidence = spark.createDataFrame(
        [("ENSG1", "EFO_1", "CHEMBL1", 0.8)],
        ["targetId", "diseaseId", "drugId", "score"],
    )
    drugs = spark.createDataFrame(
        [("CHEMBL1", "aspirin", ["acetylsalicylic acid"], ["Aspro"], "small molecule"),
         ("CHEMBL2", "orphanol", None, None, "small molecule")],
        "id: string, name: string, synonyms: array<string>, tradeNames: array<string>, "
        "drugType: string",
    )
    out = run_step(spark, "search", {
        "targets": targets, "diseases": diseases, "associations": associations,
        "evidence": evidence, "drugs": drugs,
    })["search_drug"]
    rows = {r.id: r for r in out.collect()}
    a = rows["CHEMBL1"]
    assert a.terms == ["breast carcinoma", "BRCA1"]
    assert "acetylsalicylic acid" in a.keywords and "Aspro" in a.keywords
    assert a.category == "small molecule"
    import math
    assert abs(a.multiplier - (math.log1p(0.8) + 1.0)) < 1e-9
    assert rows["CHEMBL2"].multiplier == 0.01  # no evidence
    assert rows["CHEMBL2"].terms == []


def test_literature_step(spark):
    entities = spark.createDataFrame(
        [
            ("ENSG1", "target", "TNF alpha", ["tnf-α receptors"], 1.0),
            ("EFO_1", "disease", "breast carcinoma", ["carcinoma of the breast"], 1.0),
            ("CHEMBL1", "drug", "aspirin", None, 1.0),
        ],
        "id: string, type: string, name: string, synonyms: array<string>, priority: double",
    )
    pubs = spark.createDataFrame(
        [
            ("pm1", "title", "TNF alpha in breast carcinoma."),
            ("pm1", "abstract", "We studied aspirin. The TNF-α receptors were elevated."),
            ("pm2", "body", "Nothing relevant here."),
        ],
        ["pmid", "section", "text"],
    )
    out = run_step(spark, "literature", {"entities": entities, "publications": pubs})
    matches = out["matches"].collect()
    matched = {(r.pmid, r.keywordId) for r in matches}
    assert ("pm1", "ENSG1") in matched
    assert ("pm1", "EFO_1") in matched
    assert ("pm1", "CHEMBL1") in matched
    assert not any(r.pmid == "pm2" for r in matches)

    rel = {(r.pmid, r.keywordId): r.relevance for r in out["relevance"].collect()}
    # title match outweighs abstract-only match
    assert rel[("pm1", "EFO_1")] >= rel[("pm1", "CHEMBL1")]

    cooc = {(r.keywordId1, r.keywordId2): r.cooccurrenceCount
            for r in out["cooccurrences"].collect()}
    # TNF + carcinoma share the title sentence
    assert (("EFO_1", "ENSG1") in cooc) or (("ENSG1", "EFO_1") in cooc)


def test_publication_relevance_section_semantics(spark):
    """Processing.scala:50-117: title counted once, other sections once per
    match, rank-ordered vectors, unknown-section rank/weight fills."""
    from platform_etl_backend_spark.steps.literature import publication_relevance

    matches = spark.createDataFrame(
        [
            # k1: two title matches (counted ONCE) + one methods match
            ("pm1", "title", 0, "k1", "target"),
            ("pm1", "title", 1, "k1", "target"),
            ("pm1", "methods", 2, "k1", "target"),
            # k2: two results matches (counted twice) before an abstract?
            # no — abstract rank 1 sorts first, results rank 2 after
            ("pm1", "results", 3, "k2", "disease"),
            ("pm1", "results", 4, "k2", "disease"),
            ("pm1", "abstract", 5, "k2", "disease"),
            # k3: unknown section -> rank 100, weight 0.01
            ("pm1", "acknowledgements", 6, "k3", "drug"),
        ],
        ["pmid", "section", "sentence_idx", "keywordId", "type"],
    )
    rel = {r.keywordId: r.relevance for r in publication_relevance(matches).collect()}
    # k1: vec = [1.0 (title, once), 0.3 (methods)] -> 1/1 + 0.3/4
    assert abs(rel["k1"] - (1.0 + 0.3 / 4)) < 1e-6
    # k2: vec = [0.8 (abstract, rank 1), 0.6, 0.6 (results, rank 2)]
    assert abs(rel["k2"] - (0.8 + 0.6 / 4 + 0.6 / 9)) < 1e-6
    # k3: vec = [0.01]
    assert abs(rel["k3"] - 0.01) < 1e-6


def test_epmc_preprocessing_merge(spark):
    """Grounding.scala:598-620 + PreProcessing.scala:8-50: fulltext pmid
    completion through the id LUT, abstract anti-join, dedup-by-latest."""
    abstracts = spark.createDataFrame(
        [
            ("pm1", None, "old abstract", "2021-01-01 00:00:00"),
            ("pm1", None, "new abstract", "2022-06-01 00:00:00"),  # later wins
            ("pm2", None, "kept abstract", "2022-01-01 00:00:00"),
        ],
        "pmid: string, pmcid: string, text: string, timestamp: string",
    )
    fulltexts = spark.createDataFrame(
        [
            (None, "PMC1", "fulltext for pm1", "2022-03-01 00:00:00"),
            ("pm9", "PMC9", "unmapped pmcid", "2022-03-01 00:00:00"),  # not in LUT
        ],
        "pmid: string, pmcid: string, text: string, timestamp: string",
    )
    epmc_ids = spark.createDataFrame(
        [("pm1", "PMC1"), ("pmX", "pmc-lowercase"), (None, "PMC7")],
        "PMID: string, PMCID: string",
    )
    out = run_step(spark, "literature", {
        "abstracts": abstracts, "fulltexts": fulltexts, "epmc_ids": epmc_ids,
    })["epmc_publications"]
    rows = {(r.pmid, r.kind): r for r in out.collect()}
    # pm1 has a fulltext (pmid completed through the LUT) -> abstract dropped
    assert ("pm1", "Full_text") in rows and ("pm1", "Abstracts") not in rows
    assert rows[("pm1", "Full_text")].text == "fulltext for pm1"
    # pm2 has no fulltext -> latest abstract version survives, older dropped
    assert rows[("pm2", "Abstracts")].text == "kept abstract"
    assert len([k for k in rows if k[0] == "pm2"]) == 1
    # fulltext whose pmcid is not in the LUT is dropped by the inner join
    assert not any(k[0] == "pm9" for k in rows)


def test_search_variant_and_study_index(spark):
    targets = spark.createDataFrame(
        [("ENSG1", "BRCA1", "g1", None)],
        "id: string, approvedSymbol: string, approvedName: string, synonyms: array<string>",
    )
    diseases = spark.createDataFrame(
        [("EFO_1", "breast carcinoma", None, None)],
        "id: string, name: string, synonyms: array<string>, description: string",
    )
    associations = spark.createDataFrame(
        [("ENSG1", "EFO_1", 0.9)], ["targetId", "diseaseId", "score"]
    )
    variants = spark.createDataFrame(
        [("1_100_A_G", ["rs123"], "hgvs:1", [("dbsnp", "rs123x")], "1", "100")],
        "variantId: string, rsIds: array<string>, hgvsId: string, "
        "dbXrefs: array<struct<source:string,id:string>>, chromosome: string, position: string",
    )
    studies = spark.createDataFrame(
        [("GCST1", "height", "pm1", "Doe J", ["EFO_1"], 1000, "ENSG1"),
         ("GCST2", "bmi", "pm2", "Roe A", ["EFO_1"], 500, "ENSG1"),
         ("GCST3", "t2d", None, None, None, 200, None)],
        "studyId: string, traitFromSource: string, pubmedId: string, "
        "publicationFirstAuthor: string, diseaseIds: array<string>, nSamples: long, "
        "geneId: string",
    )
    credible_sets = spark.createDataFrame(
        [("GCST1",), ("GCST1",), ("GCST2",)], "studyId: string"
    )
    out = run_step(spark, "search", {
        "targets": targets, "diseases": diseases, "associations": associations,
        "variants": variants, "studies": studies, "credible_sets": credible_sets,
    })
    v = out["search_variant"].collect()[0]
    assert v.id == "1_100_A_G" and v.entity == "variant"
    assert {"1_100_", "1-100-", "1:100:", "rs123", "rs123x", "hgvs:1"} <= set(v.keywords)
    assert "1:100:" in v.prefixes and "1_100_" not in v.prefixes
    assert set(v.ngrams) == {"1_100_A_G", "rs123x"}
    assert v.multiplier == 1.0
    s = {r.id: r for r in out["search_study"].collect()}
    # ranks: GCST1 (2 credible sets) > GCST2 (1) > GCST3 (0) -> multipliers 2, 1.5, 1
    assert s["GCST1"].multiplier == 2.0
    assert s["GCST2"].multiplier == 1.5
    assert s["GCST3"].multiplier == 1.0
    assert {"height", "EFO_1", "BRCA1", "ENSG1"} == set(s["GCST1"].terms)
    assert {"GCST1", "pm1", "Doe J"} == set(s["GCST1"].keywords)
    assert s["GCST3"].terms == ["t2d"]  # no target/disease labels, trait only


def _epmc_raw(spark):
    rows = [
        # two GP-DS sentences for the same (pub, target, disease): scores sum
        ("123", "PMC1", "title", "GP-DS", True, "BRCA1 causes breast cancer",
         "BRCA1", "breast cancer", "ENSG1", "EFO_1", 0, 5, 13, 26, 2020, 0.9),
        ("123", "PMC1", "abstract", "GP-DS", True, "BRCA1 linked to breast cancer",
         "BRCA1", "breast cancer", "ENSG1", "EFO_1", 0, 5, 16, 29, 2020, 0.8),
        # below the resourceScore>1 floor
        ("124", None, "title", "GP-DS", True, "weak link",
         "G2", "d2", "ENSG2", "EFO_2", 0, 2, 5, 7, 2021, 0.5),
        # wrong section: excluded
        ("125", None, "body", "GP-DS", True, "body text",
         "G3", "d3", "ENSG3", "EFO_3", 0, 2, 5, 7, 2021, 5.0),
        # drug pair: kept for annotations, not evidence
        ("126", None, "title", "GP-CD", True, "aspirin hits COX2",
         "COX2", "aspirin", "ENSG4", "CHEMBL25", 0, 4, 10, 17, 2022, 2.0),
    ]
    return spark.createDataFrame(
        rows,
        "pmid: string, pmcid: string, section: string, type: string, isMapped: boolean, "
        "text: string, label1: string, label2: string, keywordId1: string, "
        "keywordId2: string, start1: int, end1: int, start2: int, end2: int, "
        "year: int, evidence_score: double",
    )


def test_epmc_evidence_export(spark):
    from platform_etl_backend_spark.steps.literature import epmc_evidence

    out = epmc_evidence(_epmc_raw(spark)).collect()
    assert len(out) == 1
    e = out[0]
    assert e.datasourceId == "europepmc" and e.datatypeId == "literature"
    assert (e.targetFromSourceId, e.diseaseFromSourceMappedId) == ("ENSG1", "EFO_1")
    assert abs(e.resourceScore - 1.7) < 1e-9
    assert e.pmcIds == ["PMC1"] and e.literature == ["123"]
    assert len(e.textMiningSentences) == 2
    assert e.textMiningSentences[0].tStart == 0 and e.publicationYear == 2020


def test_epmc_annotations_export(spark):
    from platform_etl_backend_spark.steps.literature import epmc_annotations

    rows = {(r.src, r.id): r for r in epmc_annotations(_epmc_raw(spark)).collect()}
    assert ("PMC", "PMC1") in rows and ("MED", "126") in rows
    pmc = rows[("PMC", "PMC1")]
    assert pmc.provider == "OpenTargets"
    assert {a.type for a in pmc.anns} == {"Gene Disease Relationship"}
    tag_uris = {t.uri for a in pmc.anns for t in a.tags}
    assert any(u.endswith("Summary?g=ENSG1") for u in tag_uris)
    assert any(u.startswith("http://purl.obolibrary.org") for u in tag_uris)
    drug = rows[("MED", "126")]
    assert drug.anns[0].type == "Gene Drug Relationship"
    assert any(t.uri.endswith("CHEMBL25") for t in drug.anns[0].tags)


def test_embedding_vectors_category(spark):
    from platform_etl_backend_spark.steps.embedding import embedding_step

    pubs = spark.createDataFrame(
        [("ENSG1 EFO_1 CHEMBL25 ENSG1 EFO_1",)] * 8, "text: string"
    )
    vecs = embedding_step(
        spark, {"publications": pubs}, vector_size=8, num_partitions=2
    )["vectors"]
    assert vecs.columns == ["category", "word", "norm", "vector"]
    cats = {r.word: r.category for r in vecs.collect()}
    assert cats["ENSG1"] == "target" and cats["CHEMBL25"] == "drug"
    assert cats["EFO_1"] == "disease"
    row = vecs.where(F.col("word") == "ENSG1").collect()[0]
    import math
    assert abs(row.norm - math.sqrt(sum(x * x for x in row.vector))) < 1e-9
