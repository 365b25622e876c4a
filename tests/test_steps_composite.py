from __future__ import annotations

from pyspark.sql import functions as F

from platform_etl_backend_spark.steps import run_step


def test_otar_step(spark):
    diseases = spark.createDataFrame(
        [("EFO_1", ["EFO_ROOT"]), ("EFO_2", ["EFO_ROOT", "EFO_1"])],
        "id: string, ancestors: array<string>",
    )
    meta = spark.createDataFrame(
        [("OTAR_A", "Project A", "Active", "yes"), ("OTAR_B", "Project B", "Closed", None)],
        ["otar_code", "project_name", "project_status", "integrates_in_PPP"],
    )
    lookup = spark.createDataFrame(
        [("OTAR_A", "EFO_1"), ("OTAR_B", "EFO_2")], ["otar_code", "efo_disease_id"]
    )
    out = run_step(spark, "otar", {
        "diseases": diseases, "otar_meta": meta, "otar_project_to_efo": lookup,
    })["otar_projects"]
    rows = {r.efo_id: r.projects for r in out.collect()}
    # EFO_1 gets project A directly; EFO_ROOT gets both via ancestors;
    # EFO_2 gets B directly and A not (A maps to EFO_1, propagation is upward)
    assert {p.otar_code for p in rows["EFO_ROOT"]} == {"OTAR_A", "OTAR_B"}
    assert {p.otar_code for p in rows["EFO_1"]} == {"OTAR_A", "OTAR_B"}
    assert {p.otar_code for p in rows["EFO_2"]} == {"OTAR_B"}
    ref = [p.reference for p in rows["EFO_2"]]
    assert ref == ["http://home.opentargets.org/OTAR_B"]


def test_search_ebi_step(spark):
    targets = spark.createDataFrame(
        [("T1", "BRCA1"), ("T2", "TP53")], ["id", "approvedSymbol"]
    )
    diseases = spark.createDataFrame(
        [("D1", "carcinoma")], ["id", "name"]
    )
    assoc = spark.createDataFrame(
        [("T1", "D1", 0.8), ("T2", "D2", 0.5)],  # D2 missing -> dropped by inner join
        ["targetId", "diseaseId", "associationScore"],
    )
    evid = spark.createDataFrame(
        [("T1", "D1", 0.9)], ["targetId", "diseaseId", "score"]
    )
    out = run_step(spark, "search_ebi", {
        "target": targets, "disease": diseases, "association": assoc, "evidence": evid,
    })
    a = out["ebisearchAssociations"].collect()
    assert [(r.targetId, r.diseaseId, r.approvedSymbol, r.name, r.score) for r in a] == [
        ("T1", "D1", "BRCA1", "carcinoma", 0.8)
    ]
    e = out["ebisearchEvidence"].collect()
    assert [(r.score) for r in e] == [0.9]


def _expression_inputs(spark):
    tissues = spark.createDataFrame(
        [
            ("G1", "Liver", "hepatocytes", "High", "Approved"),
            ("G1", "Brain", "neurons", "N/A", "Uncertain"),     # filtered out
            ("G2", "Liver", "hepatocytes", "Low", "Uncertain"),
        ],
        ["Gene", "Tissue", "Cell type", "Level", "Reliability"],
    )
    rna = spark.createDataFrame([("G1", 10.0, 0.0), ("G2", 3.0, 1.0)],
                                ["ID", "liver", "brain"])
    binned = spark.createDataFrame([("G1", 3.0, 0.0), ("G2", 1.0, 0.0)],
                                   ["ID", "liver", "brain"])
    zscore = spark.createDataFrame([("G1", 2.0, 0.0), ("G2", 1.0, 0.0)],
                                   ["ID", "liver", "brain"])
    efomap = spark.createDataFrame(
        [("liver", "UBERON_0002107", "liver", ["digestive"], ["liver organ"])],
        ["tissue_id", "efo_code", "label", "anatomical_systems", "organs"],
    )
    exprmap = spark.createDataFrame([("liver", "liver")], ["_c0", "_c1"])
    return {
        "tissues": tissues, "rna": rna, "binned": binned,
        "zscore": zscore, "efomap": efomap, "exprmap": exprmap,
    }


def test_interaction_step(spark):
    interactions = spark.createDataFrame(
        [
            ("P100-2", "uniprot", None, "Q200_HUMAN", "uniprot", None,
             "intact", 0.9, ["ev1", "ev2"]),
            ("P100", "uniprot", None, "P300", "uniprot", None,
             "string", 0.5, ["ev3"]),
        ],
        "intA: string, intA_source: string, speciesA: string, "
        "intB: string, intB_source: string, speciesB: string, "
        "sourceDatabase: string, interactionScore: double, evidencesList: array<string>",
    ).withColumn("intABiologicalRole", F.lit("unspecified")) \
     .withColumn("intBBiologicalRole", F.lit("unspecified"))
    mapping = spark.createDataFrame(
        [("ENSG1", "P100"), ("ENSG2", "Q200"), ("ENSG3", "P300")],
        ["gene_id", "mapped_id"],
    )
    out = run_step(spark, "interaction", {
        "interactions": interactions, "mapping": mapping,
    })
    ev = out["interaction_evidences"].collect()
    # intact row is symmetric: 2 evidences x 2 directions; string: 1 evidence x 1
    assert len(ev) == 5
    intact_targets = {(r.targetA, r.targetB) for r in ev if r.sourceDatabase == "intact"}
    assert intact_targets == {("ENSG1", "ENSG2"), ("ENSG2", "ENSG1")}  # id truncation worked
    agg = out["interactions_agg"].collect()
    counts = {(r.targetA, r.targetB): r["count"] for r in agg}
    assert counts[("ENSG1", "ENSG2")] == 2
    assert counts[("ENSG1", "ENSG3")] == 1


def test_interaction_step_string_source(spark):
    string_df = spark.createDataFrame(
        [
            ("9606.ENSP1", "9606.ENSP2", " 900", 800, 0, 0, 0, 0, 700, 0, 0),
            ("9606.ENSP1", "9606.ENSP3", " 100", 0, 0, 0, 0, 0, 0, 0, 100),  # below threshold
            ("10090.ENSP9", "9606.ENSP2", " 950", 0, 0, 0, 0, 0, 0, 0, 950),  # mouse: dropped
        ],
        ["protein1", "protein2", "combined_score", "coexpression", "cooccurence",
         "neighborhood", "fusion", "homology", "experimental", "database", "textmining"],
    )
    mapping = spark.createDataFrame(
        [("ENSG1", "ENSP1"), ("ENSG2", "ENSP2")], ["gene_id", "mapped_id"]
    )
    out = run_step(spark, "interaction", {"string": string_df, "mapping": mapping},
                   string_score_threshold=400)
    ev = out["interaction_evidences"].collect()
    # one interaction above threshold, 2 scored channels, string is directional
    assert len(ev) == 2
    assert {r.evidences.interaction_detection_method_short_name for r in ev} == {
        "coexpression", "experimental"
    }
    assert ev[0].targetA == "ENSG1" and ev[0].targetB == "ENSG2"
    assert ev[0].interactionScore == 0.9


def test_openfda_step(spark):
    # drug d0 strongly associated with reaction r0, background noise elsewhere
    rows = []
    rid = 0
    for _ in range(30):
        rows.append((rid, "D0", "R0")); rid += 1
    for i in range(60):
        rows.append((rid, f"D{i % 3}", f"R{i % 5}")); rid += 1
    raw = spark.createDataFrame(rows, ["safetyreportid", "drug_name", "reaction"])
    drug_list = spark.createDataFrame([("D0",), ("D1",), ("D2",)], ["drug_name"])
    blacklist = spark.createDataFrame([("R4",)], ["reactions"])
    out = run_step(spark, "openfda", {
        "fda_events": raw, "drug_list": drug_list, "blacklist": blacklist,
    })
    unfiltered = out["unfiltered"].collect()
    assert all(r.reaction != "r4" for r in unfiltered)  # blacklist applied
    sig = out["significant"].collect()
    pairs = {(r.drug, r.event) for r in sig}
    assert ("d0", "r0") in pairs  # the planted association is detected
    top = max(sig, key=lambda r: r.llr)
    assert (top.drug, top.event) == ("d0", "r0")  # ...and dominates
    assert all(r.llr > r.critval for r in sig)


def test_openfda_raw_faers_preparation(spark):
    """PrePrepRawFdaData + PrepareAdverseEventData + PrepareDrugList +
    AttachMeddraData over raw FAERS-shaped documents."""
    def report(rid, death, qual, charact, reactions, drug_names, brand=None):
        return {
            "safetyreportid": rid,
            "serious": "1",
            "seriousnessdeath": death,
            "receivedate": "20240101",
            "primarysource": {"qualification": qual},
            "patient": {
                "reaction": [{"reactionmeddrapt": r} for r in reactions],
                "drug": [
                    {
                        "medicinalproduct": d,
                        "drugcharacterization": charact,
                        "openfda": {
                            "generic_name": [],
                            "brand_name": brand or [],
                            "substance_name": [],
                        },
                    }
                    for d in drug_names
                ],
            },
        }

    schema = (
        "safetyreportid: string, serious: string, seriousnessdeath: string, "
        "receivedate: string, primarysource: struct<qualification:string>, "
        "patient: struct<reaction:array<struct<reactionmeddrapt:string>>, "
        "drug:array<struct<medicinalproduct:string,drugcharacterization:string,"
        "openfda:struct<generic_name:array<string>,brand_name:array<string>,"
        "substance_name:array<string>>>>>"
    )
    rows = [
        report("r1", None, "1", "1", ["Headache^s pain"], ["ASPIRIN"], ["Aspro"]),
        report("r2", "1", "1", "1", ["Nausea"], ["ASPIRIN"]),      # death: dropped
        report("r3", None, "5", "1", ["Nausea"], ["ASPIRIN"]),     # qualification: dropped
        report("r4", None, "1", "2", ["Nausea"], ["ASPIRIN"]),     # concomitant: dropped
        report("r5", None, "2", "1", ["Rash"], ["IBUPROFEN"]),
    ]
    raw = spark.createDataFrame(rows, schema)
    drugs = spark.createDataFrame(
        [("CHEMBL25", "Aspirin", ["acetylsalicylic acid"], ["Aspro"]),
         ("CHEMBL521", "Ibuprofen", None, None)],
        "id: string, name: string, synonyms: array<string>, tradeNames: array<string>",
    )
    from platform_etl_backend_spark.steps.openfda import (
        pre_prep_raw_fda_data, prepare_adverse_event_data, attach_meddra_data,
    )
    fda = prepare_adverse_event_data(pre_prep_raw_fda_data(raw))
    got = {(r.safetyreportid, r.drug_name, r.reaction_reactionmeddrapt)
           for r in fda.collect()}
    # quote fix applied; r1 explodes into medicinalproduct + brand name rows
    assert ("r1", "aspirin", "headache's pain") in got
    assert ("r1", "aspro", "headache's pain") in got
    assert ("r5", "ibuprofen", "rash") in got
    assert not any(rid in {"r2", "r3", "r4"} for rid, _, _ in got)

    # meddra: preferred term wins, low-level term is the fallback
    pt = spark.createDataFrame([("10019211$headache's pain$x",)], ["_c0"])
    llt = spark.createDataFrame([("10037844$rash$y",)], ["_c0"])
    withm = attach_meddra_data(fda, "drug_name", pt, llt)
    codes = {r.reaction_reactionmeddrapt: r.meddraCode for r in withm.collect()}
    assert codes["headache's pain"] == "10019211"
    assert codes["rash"] == "10037844"

    # full step over raw shape with a chembl-shaped drug list; enough rows
    # that the LLR terms stay finite (a drug needs >1 distinct reaction)
    more = [
        report(f"rh{i}", None, "1", "1", ["Headache^s pain"], ["ASPIRIN"])
        for i in range(4)
    ] + [
        report(f"rn{i}", None, "1", "1", ["Nausea"], ["ASPIRIN"]) for i in range(2)
    ] + [
        report(f"rr{i}", None, "1", "1", ["Rash"], ["IBUPROFEN"]) for i in range(2)
    ] + [
        report(f"rx{i}", None, "1", "1", ["Nausea"], ["IBUPROFEN"]) for i in range(2)
    ]
    out = run_step(
        spark, "openfda",
        {"fda_events": spark.createDataFrame(rows + more, schema), "drug_list": drugs},
    )
    pairs = {(r.drug, r.reaction) for r in out["unfiltered"].collect()}
    assert ("aspirin", "headache's pain") in pairs
    assert ("ibuprofen", "rash") in pairs


def test_openfda_stratified_sampling(spark):
    rows = []
    rid = 0
    for _ in range(30):
        rows.append((rid, "D0", "R0")); rid += 1
    for i in range(60):
        rows.append((rid, f"D{i % 3}", f"R{i % 5}")); rid += 1
    raw = spark.createDataFrame(rows, ["safetyreportid", "drug_name", "reaction"])
    out = run_step(
        spark, "openfda", {"fda_events": raw},
        sampling_dimension="drug", sample_size=0.8,
    )
    sample = out["stratifiedSampling"].collect()
    # sampled reports are real raw reports, marked seriousnessdeath=1
    assert 0 < len(sample) <= len(rows)
    assert all(r.seriousnessdeath == 1 for r in sample)
    raw_ids = {r[0] for r in rows}
    assert {r.safetyreportid for r in sample} <= raw_ids
    # deterministic under the default seed
    again = run_step(
        spark, "openfda", {"fda_events": raw},
        sampling_dimension="drug", sample_size=0.8,
    )["stratifiedSampling"].collect()
    assert {r.safetyreportid for r in again} == {r.safetyreportid for r in sample}


def test_expression_step(spark):
    out = run_step(spark, "expression", _expression_inputs(spark))["expressions"]
    rows = {r.id: r.tissues for r in out.collect()}
    assert "G1" in rows
    liver = [t for t in rows["G1"] if t.efo_code == "UBERON_0002107"]
    assert liver, rows["G1"]
    t = liver[0]
    assert t.label == "liver"
    assert t.rna.value == 10.0 and t.rna.level == 3.0
    assert t.protein.reliability is True and t.protein.level == 3
    assert t.protein.cell_type[0].name == "hepatocytes"
    assert t.organs == ["liver organ"]


def test_expression_efo_fallback(spark):
    """Expression.scala:95-145 fallback semantics: a tissue known only to the
    expression LUT (not the EFO map) keeps its own name as efoId through the
    full-join fallback; a tissue known to neither map has a null efoId and is
    dropped (:205 filter, the reference's 'Missing tissues. Fixme.'
    behavior); an EFO map row that no tissue matches yields no document."""
    inputs = _expression_inputs(spark)
    inputs["tissues"] = spark.createDataFrame(
        [
            ("G2", "Heart", "myocytes", "Medium", "Approved"),   # exprmap-only
            ("G2", "Kidney", "podocytes", "High", "Approved"),   # unmapped
        ],
        ["Gene", "Tissue", "Cell type", "Level", "Reliability"],
    )
    inputs["exprmap"] = spark.createDataFrame(
        [("liver", "liver"), ("heart", "heart")], ["_c0", "_c1"]
    )
    inputs["efomap"] = inputs["efomap"].unionByName(spark.createDataFrame(
        [("lung", "UBERON_0002048", "lung", ["respiratory"], ["lung organ"])],
        ["tissue_id", "efo_code", "label", "anatomical_systems", "organs"],
    ))
    rows = {
        r.id: r.tissues
        for r in run_step(spark, "expression", inputs)["expressions"].collect()
    }
    by_efo = {t.efo_code: t for t in rows["G2"]}
    assert "heart" in by_efo  # efoId fell back to the LUT name
    heart = by_efo["heart"]
    assert heart.label == "heart" and heart.organs == []
    assert heart.protein.cell_type[0].name == "myocytes"
    assert "kidney" not in by_efo and None not in by_efo  # unmapped dropped
    # the unmatched EFO row adds no document and no tissue entry
    assert set(rows) == {"G1", "G2"}
    assert all(t.efo_code != "UBERON_0002048" for ts in rows.values() for t in ts)


def test_interaction_generate_mapping(spark):
    from platform_etl_backend_spark.steps.interaction import generate_mapping

    targets = spark.createDataFrame(
        [("ENSG1", [("P100", "uniprot_swissprot")], [("1100", "HGNC")]),
         ("ENSG2", [("Q200", "uniprot_swissprot")], [])],
        "id: string, proteinIds: array<struct<id:string,source:string>>, "
        "dbXRefs: array<struct<id:string,source:string>>",
    )
    rna = spark.createDataFrame(
        [("URS0001", "x", "x", "x", "x", "ENSG1")],
        "_c0: string, _c1: string, _c2: string, _c3: string, _c4: string, _c5: string",
    )
    human = spark.createDataFrame(
        [
            # uniprot idmapping layout: (accession, id_type, id_value)
            ("P100", "Ensembl", "ENSG1"),
            ("P100-2", "Ensembl", "ENSG1"),
            ("P100", "Gene_Name", "BRCA1"),   # mapped accession carries the symbol…
            ("P999", "Gene_Name", "BRCA1"),   # …unmapped sibling resolves through it
        ],
        "_c0: string, _c1: string, _c2: string",
    )
    pairs = {(r.gene_id, r.mapped_id) for r in
             generate_mapping(targets, rna, human).collect()}
    assert ("ENSG1", "P100") in pairs          # protein id
    assert ("ENSG1", "P100-2") in pairs        # human-mapping accession
    assert ("ENSG1", "URS0001") in pairs       # rnacentral
    assert ("ENSG1", "HGNC:1100") in pairs     # hgnc xref
    assert ("ENSG1", "P999") in pairs          # gene-name sibling resolved
    assert ("ENSG2", "Q200") in pairs


def test_interaction_intact_normalizer(spark):
    from platform_etl_backend_spark.steps.interaction import (
        prepare_intact_interactions,
    )

    org = {"mnemonic": "human", "scientific_name": "Homo sapiens", "taxon_id": 9606}
    intact = spark.createDataFrame(
        [
            # normal A-B interaction, score scaled /1000 when > 1
            ({"id": "P100", "id_source": "uniprot", "organism": org,
              "biological_role": "bait"},
             {"id": "Q200", "id_source": "uniprot", "organism": org,
              "biological_role": "prey"},
             {"source_database": "intact", "database_version": "v1"},
             {"interaction_score": 940.0, "evidence": [{"pubmed_id": "pm1"}]}),
            # interactorB missing: self-interaction falls back to A
            ({"id": "P300", "id_source": "uniprot", "organism": org,
              "biological_role": "self"},
             None,
             {"source_database": "signor", "database_version": "v2"},
             {"interaction_score": 0.75, "evidence": [{"pubmed_id": "pm2"}]}),
        ],
        "interactorA: struct<id:string,id_source:string,"
        "organism:struct<mnemonic:string,scientific_name:string,taxon_id:long>,"
        "biological_role:string>, "
        "interactorB: struct<id:string,id_source:string,"
        "organism:struct<mnemonic:string,scientific_name:string,taxon_id:long>,"
        "biological_role:string>, "
        "source_info: struct<source_database:string,database_version:string>, "
        "interaction: struct<interaction_score:double,"
        "evidence:array<struct<pubmed_id:string>>>",
    )
    rows = {r.intA: r for r in prepare_intact_interactions(intact).collect()}
    ab = rows["P100"]
    assert ab.intB == "Q200" and ab.interactionScore == 0.94  # scaled
    assert ab.speciesA.scientificName == "Homo sapiens"
    assert ab.speciesA.taxonId == 9606
    self_row = rows["P300"]
    assert self_row.intB == "P300"  # B fell back to A
    assert self_row.intBBiologicalRole == "self"
    assert self_row.interactionScore == 0.75  # <= 1: unscaled


def test_interaction_step_intact_end_to_end(spark):
    org = {"mnemonic": "human", "scientific_name": "Homo sapiens", "taxon_id": 9606}
    intact = spark.createDataFrame(
        [({"id": "P100-2", "id_source": "uniprot", "organism": org,
           "biological_role": "bait"},
          {"id": "Q200", "id_source": "uniprot", "organism": org,
           "biological_role": "prey"},
          {"source_database": "intact", "database_version": "v1"},
          {"interaction_score": 900.0, "evidence": [{"pubmed_id": "pm1"}]})],
        "interactorA: struct<id:string,id_source:string,"
        "organism:struct<mnemonic:string,scientific_name:string,taxon_id:long>,"
        "biological_role:string>, "
        "interactorB: struct<id:string,id_source:string,"
        "organism:struct<mnemonic:string,scientific_name:string,taxon_id:long>,"
        "biological_role:string>, "
        "source_info: struct<source_database:string,database_version:string>, "
        "interaction: struct<interaction_score:double,"
        "evidence:array<struct<pubmed_id:string>>>",
    )
    targets = spark.createDataFrame(
        [("ENSG1", [("P100", "uniprot_swissprot")], None),
         ("ENSG2", [("Q200", "uniprot_swissprot")], None)],
        "id: string, proteinIds: array<struct<id:string,source:string>>, "
        "dbXRefs: array<struct<id:string,source:string>>",
    )
    out = run_step(spark, "interaction", {"intact": intact, "targets": targets})
    ev = out["interaction_evidences"].collect()
    # intact is symmetric: both directions; P100-2 truncates to P100 for mapping
    assert {(r.targetA, r.targetB) for r in ev} == {("ENSG1", "ENSG2"), ("ENSG2", "ENSG1")}
    assert out["interactions_unmatched"].count() == 0


def test_interaction_string_gtf_mapping_and_export(spark):
    string_df = spark.createDataFrame(
        [
            ("9606.ENSP00000000001", "9606.ENSP00000000002", " 900",
             800, 0, 0, 0, 0, 700, 0, 0),
            # ENSP...003 has no CDS row in the GTF -> unmatched targetB
            ("9606.ENSP00000000001", "9606.ENSP00000000003", " 600",
             0, 0, 0, 0, 0, 0, 0, 600),
        ],
        ["protein1", "protein2", "combined_score", "coexpression", "cooccurence",
         "neighborhood", "fusion", "homology", "experimental", "database", "textmining"],
    )
    # positional GTF shape: _c2 = feature, _c8 = attributes blob
    ensproteins = spark.createDataFrame(
        [("x", "y", "CDS", 'gene_id "ENSG00000000011"; protein_id "ENSP00000000001";'),
         ("x", "y", "CDS", 'gene_id "ENSG00000000012"; protein_id "ENSP00000000002";'),
         ("x", "y", "exon", 'gene_id "ENSG00000000013"; protein_id "ENSP00000000003";')],
        ["_c0", "_c1", "_c2", "_c8"],
    )
    out = run_step(spark, "interaction", {
        "string": string_df, "ensproteins": ensproteins,
        # generated-mapping path needs targets; give an empty-protein target
        "targets": spark.createDataFrame(
            [("ENSG00000000011", None)],
            "id: string, proteinIds: array<struct<id:string,source:string>>"),
    }, string_version="12.0")
    ev = out["interaction_evidences"].collect()
    # pair 1 resolves through the GTF LUT; pair 2 drops its zero channels
    # except textmining and leaves targetB null (still kept: targetA matched)
    assert {(r.targetA, r.targetB) for r in ev} == {
        ("ENSG00000000011", "ENSG00000000012"),
        ("ENSG00000000011", None),
    }
    scored = {r.evidences.interaction_detection_method_short_name for r in ev}
    assert scored == {"coexpression", "experimental", "textmining"}
    assert all(r.interactionResources.source_database == "string" for r in ev)
    assert all(r.interactionResources.database_version == "12.0" for r in ev)
    # unmatched QC: human interactor whose gene id did not resolve
    assert [r.intB for r in out["interactions_unmatched"].collect()] == [
        "ENSP00000000003"
    ]
    # evidence export: star-expanded evidence fields, lowerCamel schema,
    # string channel scores rescaled /1000
    export = out["interactions_evidence_export"]
    assert "evidenceScore" in export.columns and "pubmedId" in export.columns
    assert "intASource" in export.columns
    rows = {(r.intB, r.evidenceScore) for r in export.collect()}
    assert (None, None) not in rows
    assert ("ENSP00000000002", 0.8) in rows and ("ENSP00000000002", 0.7) in rows
