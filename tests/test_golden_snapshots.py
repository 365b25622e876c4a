"""Golden end-to-end snapshots: every reference step (SURVEY §2.10) runs a
canonical tiny input through ``run_step`` and the FULL output — schema and
every value — must hash to a committed digest, so a step-level regression is
caught without the round driver.

Canonicalization (hash-stability rules):
- rows collected and converted to plain python, dict keys sorted;
- every list sorted by its serialized form (collect_set / collect_list
  arrival order is partitioning-dependent by design);
- floats rounded to 9 d.p. (all step outputs are either exact or already
  rounded upstream of that);
- schema participates as sorted (column, type) pairs.

To regenerate after an INTENDED semantic change:
    python -m tests.test_golden_snapshots
prints the new digests; update GOLDEN with them in the same commit as the
semantic change (reviewers see both move together).
"""

from __future__ import annotations

import hashlib
import json
import textwrap

import pytest

from spark_helpers import session_scoped_conf
from platform_etl_backend_spark.steps import run_step

OBO_SAMPLE = textwrap.dedent("""\
    format-version: 1.2

    [Term]
    id: GO:0000001
    name: mitochondrion inheritance
    is_a: GO:0048308 ! organelle inheritance

    [Term]
    id: GO:0000002
    name: obsolete thing
    is_obsolete: true
""")


def _canon_value(v):
    if isinstance(v, dict):
        return {k: _canon_value(v[k]) for k in sorted(v)}
    if isinstance(v, (list, tuple)):
        items = [_canon_value(x) for x in v]
        return sorted(items, key=lambda x: json.dumps(x, sort_keys=True, default=str))
    if isinstance(v, float):
        return round(v, 9)
    return v


def snapshot_digest(df) -> str:
    schema = sorted((f.name, f.dataType.simpleString()) for f in df.schema.fields)
    rows = [
        json.dumps(_canon_value(r.asDict(recursive=True)), sort_keys=True, default=str)
        for r in df.collect()
    ]
    payload = json.dumps(schema) + "\n" + "\n".join(sorted(rows))
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()[:16]


# ---------------------------------------------------------------------------
# Canonical tiny inputs, one builder per step (shapes shared with the
# behavioral tests in test_steps*.py / test_facets_literature.py /
# test_target_step.py — these pin the VALUES, those pin the semantics).
# ---------------------------------------------------------------------------

def _inputs_reactome(spark, tmp_path):
    return {
        "pathways": spark.createDataFrame(
            [("R-1", "root", "Homo sapiens"), ("R-2", "mid", "Homo sapiens"),
             ("R-3", "leaf", "Homo sapiens"), ("R-X", "mouse", "Mus musculus")],
            ["_c0", "_c1", "_c2"],
        ),
        "relations": spark.createDataFrame(
            [("R-1", "R-2"), ("R-2", "R-3"), ("R-1", "R-X")], ["_c0", "_c1"]
        ),
    }


def _inputs_go(spark, tmp_path):
    from platform_etl_backend_spark.sources.flatfile import read_obo

    p = tmp_path / "go.obo"
    p.write_text(OBO_SAMPLE)
    return {"go_terms": read_obo(spark, str(p))}


def _inputs_target(spark, tmp_path):
    genes = spark.createDataFrame(
        [
            ("ENSG001", "protein_coding",
             "BRCA-ish gene [Source:HGNC Symbol;Acc:HGNC:1]",
             "1", 100, 5000, 1, "SYM1", ["P1"], ["T1"]),
            ("ENSG002", "protein_coding", "BRCA-ish gene [Source:HGNC]",
             "CHR_PATCH_1", 100, 4000, 1, "SYM1", ["P2"], ["T2"]),
            ("ENSG003", "TEC", "odd gene A", "CHR_PATCH_2", 0, 900, -1,
             "SYM2", ["P3"], None),
        ],
        "id: string, biotype: string, description: string, chromosome: string, "
        "start: long, end: long, strand: int, approvedSymbol: string, "
        "uniprot_swissprot: array<string>, uniprot_trembl: array<string>",
    )
    hgnc = spark.createDataFrame(
        [("ENSG001", "HGNC:1", ["S1A"], ["gene one"], ["P1"])],
        "ensembl_gene_id: string, hgnc_id: string, alias_symbol: array<string>, "
        "alias_name: array<string>, uniprot_ids: array<string>",
    )
    go = spark.createDataFrame(
        [("ENSG001", "GO:1", "P")], ["ensemblId", "goId", "aspect"]
    )
    reactome = spark.createDataFrame(
        [("ENSG001", "R-1", "DNA Repair")], ["ensemblId", "pathwayId", "pathway"]
    )
    return {"ensembl": genes, "hgnc": hgnc, "go": go, "reactome": reactome}


def _inputs_interaction(spark, tmp_path):
    from pyspark.sql import functions as F

    interactions = spark.createDataFrame(
        [
            ("P100-2", "uniprot", None, "Q200_HUMAN", "uniprot", None,
             "intact", 0.9, ["ev1", "ev2"]),
            ("P100", "uniprot", None, "P300", "uniprot", None,
             "string", 0.5, ["ev3"]),
        ],
        "intA: string, intA_source: string, speciesA: string, "
        "intB: string, intB_source: string, speciesB: string, "
        "sourceDatabase: string, interactionScore: double, "
        "evidencesList: array<string>",
    ).withColumn("intABiologicalRole", F.lit("unspecified")) \
     .withColumn("intBBiologicalRole", F.lit("unspecified"))
    mapping = spark.createDataFrame(
        [("ENSG1", "P100"), ("ENSG2", "Q200"), ("ENSG3", "P300")],
        ["gene_id", "mapped_id"],
    )
    return {"interactions": interactions, "mapping": mapping}


def _inputs_expression(spark, tmp_path):
    return {
        "tissues": spark.createDataFrame(
            [("G1", "Liver", "hepatocytes", "High", "Approved"),
             ("G2", "Liver", "hepatocytes", "Low", "Uncertain")],
            ["Gene", "Tissue", "Cell type", "Level", "Reliability"],
        ),
        "rna": spark.createDataFrame(
            [("G1", 10.0, 0.0), ("G2", 3.0, 1.0)], ["ID", "liver", "brain"]
        ),
        "binned": spark.createDataFrame(
            [("G1", 3.0, 0.0), ("G2", 1.0, 0.0)], ["ID", "liver", "brain"]
        ),
        "zscore": spark.createDataFrame(
            [("G1", 2.0, 0.0), ("G2", 1.0, 0.0)], ["ID", "liver", "brain"]
        ),
        "efomap": spark.createDataFrame(
            [("liver", "UBERON_0002107", "liver", ["digestive"], ["liver organ"])],
            ["tissue_id", "efo_code", "label", "anatomical_systems", "organs"],
        ),
        "exprmap": spark.createDataFrame([("liver", "liver")], ["_c0", "_c1"]),
    }


def _inputs_openfda(spark, tmp_path):
    rows, rid = [], 0
    for _ in range(30):
        rows.append((rid, "D0", "R0")); rid += 1
    for i in range(60):
        rows.append((rid, f"D{i % 3}", f"R{i % 5}")); rid += 1
    return {
        "fda_events": spark.createDataFrame(
            rows, ["safetyreportid", "drug_name", "reaction"]
        ),
        "drug_list": spark.createDataFrame([("D0",), ("D1",), ("D2",)], ["drug_name"]),
        "blacklist": spark.createDataFrame([("R4",)], ["reactions"]),
    }


def _inputs_literature(spark, tmp_path):
    return {
        "entities": spark.createDataFrame(
            [("ENSG1", "target", "TNF alpha", ["tnf-α receptors"], 1.0),
             ("EFO_1", "disease", "breast carcinoma",
              ["carcinoma of the breast"], 1.0),
             ("CHEMBL1", "drug", "aspirin", None, 1.0)],
            "id: string, type: string, name: string, synonyms: array<string>, "
            "priority: double",
        ),
        "publications": spark.createDataFrame(
            [("pm1", "title", "TNF alpha in breast carcinoma."),
             ("pm1", "abstract",
              "We studied aspirin. The TNF-α receptors were elevated."),
             ("pm2", "body", "Nothing relevant here.")],
            ["pmid", "section", "text"],
        ),
    }


def _inputs_search(spark, tmp_path):
    return {
        "targets": spark.createDataFrame(
            # the comma/whitespace synonyms pin flattenCat's trim+comma-strip
            # normalization (Helpers.scala:154-167) end-to-end through search
            [("ENSG1", "BRCA1", "breast cancer gene 1",
              ["RNF53", " BRCA1, early onset ", "  ,  "]),
             ("ENSG2", "TP53", "tumor protein p53", None)],
            "id: string, approvedSymbol: string, approvedName: string, "
            "synonyms: array<string>",
        ),
        "diseases": spark.createDataFrame(
            [("EFO_1", "breast carcinoma", ["cancer of breast"], None),
             ("EFO_2", "lung carcinoma", None, None)],
            "id: string, name: string, synonyms: array<string>, description: string",
        ),
        "associations": spark.createDataFrame(
            [("ENSG1", "EFO_1", 0.9), ("ENSG1", "EFO_2", 0.4),
             ("ENSG2", "EFO_2", 0.7)],
            ["targetId", "diseaseId", "score"],
        ),
        "evidence": spark.createDataFrame(
            [("ENSG1", "EFO_1", "CHEMBL1", 0.8)],
            ["targetId", "diseaseId", "drugId", "score"],
        ),
    }


def _inputs_search_ebi(spark, tmp_path):
    return {
        "target": spark.createDataFrame(
            [("T1", "BRCA1"), ("T2", "TP53")], ["id", "approvedSymbol"]
        ),
        "disease": spark.createDataFrame([("D1", "carcinoma")], ["id", "name"]),
        "association": spark.createDataFrame(
            [("T1", "D1", 0.8), ("T2", "D2", 0.5)],
            ["targetId", "diseaseId", "associationScore"],
        ),
        "evidence": spark.createDataFrame(
            [("T1", "D1", 0.9)], ["targetId", "diseaseId", "score"]
        ),
    }


def _inputs_search_facet(spark, tmp_path):
    targets = spark.createDataFrame(
        [
            ("ENSG1", "BRCA1", "breast cancer gene 1",
             [{"location": "nucleus", "source": "HPA", "termSl": "SL-0191"}],
             [{"label": "Enzyme", "level": "l1"}],
             [{"pathway": "DNA Repair", "pathwayId": "R-1"}],
             [{"id": "GO:1", "aspect": "P"}],
             [{"modality": "SM", "id": "High-Quality Pocket", "value": True},
              {"modality": "AB", "id": "Surface", "value": False}]),
            ("ENSG2", "TP53", "tumor protein p53",
             [], [], [], [{"id": "GO:1", "aspect": "P"}], []),
        ],
        "id: string, approvedSymbol: string, approvedName: string, "
        "subcellularLocations: array<struct<location:string,source:string,termSl:string>>, "
        "targetClass: array<struct<label:string,level:string>>, "
        "pathways: array<struct<pathway:string,pathwayId:string>>, "
        "go: array<struct<id:string,aspect:string>>, "
        "tractability: array<struct<modality:string,id:string,value:boolean>>",
    )
    return {
        "targets": targets,
        "go": spark.createDataFrame([("GO:1", "DNA repair")], ["id", "name"]),
        "diseases": spark.createDataFrame(
            [("EFO_1", "breast carcinoma", ["EFO_CANCER"]),
             ("EFO_CANCER", "cancer or benign tumor", None)],
            "id: string, name: string, therapeuticAreas: array<string>",
        ),
    }


def _inputs_otar(spark, tmp_path):
    return {
        "diseases": spark.createDataFrame(
            [("EFO_1", ["EFO_ROOT"]), ("EFO_2", ["EFO_ROOT", "EFO_1"])],
            "id: string, ancestors: array<string>",
        ),
        "otar_meta": spark.createDataFrame(
            [("OTAR_A", "Project A", "Active", "yes"),
             ("OTAR_B", "Project B", "Closed", None)],
            ["otar_code", "project_name", "project_status", "integrates_in_PPP"],
        ),
        "otar_project_to_efo": spark.createDataFrame(
            [("OTAR_A", "EFO_1"), ("OTAR_B", "EFO_2")],
            ["otar_code", "efo_disease_id"],
        ),
    }


BUILDERS = {
    "reactome": _inputs_reactome,
    "go": _inputs_go,
    "target": _inputs_target,
    "interaction": _inputs_interaction,
    "expression": _inputs_expression,
    "openfda": _inputs_openfda,
    "literature": _inputs_literature,
    "search": _inputs_search,
    "search_ebi": _inputs_search_ebi,
    "search_facet": _inputs_search_facet,
    "otar": _inputs_otar,
}

# Committed digests: {step: {output_name: digest}}. Regenerate via
# `python -m tests.test_golden_snapshots` ONLY alongside an intended
# semantic change.
GOLDEN: dict[str, dict[str, str]] = {
    "expression": {
        "expressions": "195cb5ca53fa6afb"
    },
    "go": {
        "go": "43063f6209724d18"
    },
    "interaction": {
        "interaction_evidences": "9e114cf3685b10e8",
        "interactions_agg": "faa37370cebcd95c",
        "interactions_unmatched": "86a5d1370b773c7b"
    },
    "literature": {
        "cooccurrences": "8d2cf55176fb1d67",
        "matches": "74146ca970a6b598",
        "relevance": "37cf7541b3626a68"
    },
    "openfda": {
        "significant": "5c9b4a811eecc098",
        "unfiltered": "0fd6a7c9577e3c33"
    },
    "otar": {
        "otar_projects": "874ba9f02179d1a5"
    },
    "reactome": {
        "reactome": "bff0b5c3d6aef832"
    },
    "search": {
        "associations_with_drugs": "136f977ce2ba558b",
        "search_disease": "c6ae9579fc1e7bd4",
        "search_target": "aeae7d5f8045443f"
    },
    "search_ebi": {
        "ebisearchAssociations": "2637dd57c45b071b",
        "ebisearchEvidence": "f153c4667ed028af"
    },
    "search_facet": {
        "facets_disease": "a9590c262fd5e326",
        "facets_target": "4d83511386cf5566"
    },
    "target": {
        "target": "1202366e5d2671e7"
    }
}


def _compute(spark, tmp_path, step: str) -> dict[str, str]:
    outputs = run_step(spark, step, BUILDERS[step](spark, tmp_path))
    return {name: snapshot_digest(df) for name, df in sorted(outputs.items())}


@pytest.mark.parametrize("step", sorted(BUILDERS))
def test_step_golden_snapshot(spark, tmp_path, step):
    assert step in GOLDEN, (
        f"no golden digest for step '{step}' — run "
        "`python -m tests.test_golden_snapshots` and commit the digests"
    )
    assert _compute(spark, tmp_path, step) == GOLDEN[step]


# Pinned ``schema.json()`` digests, nullability included, which the
# ``simpleString`` types in ``snapshot_digest`` do not see. A change here
# changes the parquet schema every consumer reads.
SCHEMA_PINS: dict[str, dict[str, str]] = {
    "expression": {"expressions": "e1dce44beff98e60"},
    "go": {"go": "138aaf80ae368e86"},
    "interaction": {
        "interaction_evidences": "8e520ed306dc5487",
        "interactions_agg": "4609ae43fc078721",
        "interactions_unmatched": "6877ffa55d15a436",
    },
    "literature": {
        "cooccurrences": "e9a6ab3d2589620c",
        "matches": "1b263f2fe8db7444",
        "relevance": "586c5864492e2c0e",
    },
    "openfda": {"significant": "5cc6fdabbe065a32", "unfiltered": "0f37b3a6911e7ebb"},
    "otar": {"otar_projects": "a6e56c96e5870163"},
    "reactome": {"reactome": "616dfe341ecaa403"},
    "search": {
        "associations_with_drugs": "dde664fd36857b8b",
        "search_disease": "c160e35003a0e8b6",
        "search_target": "c160e35003a0e8b6",
    },
    "search_ebi": {
        "ebisearchAssociations": "8c98c8080072fe2f",
        "ebisearchEvidence": "8c98c8080072fe2f",
    },
    "search_facet": {"facets_disease": "acbceb59d393f373", "facets_target": "fd86595fe502e3aa"},
    "target": {"target": "7a419d6d64ecde0b"},
}


def schema_digest(df) -> str:
    return hashlib.sha256(df.schema.json().encode("utf-8")).hexdigest()[:16]


@pytest.mark.parametrize("step", sorted(BUILDERS))
def test_step_output_schema_pinned(spark, tmp_path, step):
    outputs = run_step(spark, step, BUILDERS[step](spark, tmp_path))
    got = {name: schema_digest(df) for name, df in sorted(outputs.items())}
    assert got == SCHEMA_PINS[step]


@pytest.mark.parametrize("step", sorted(BUILDERS))
def test_step_outputs_compile_without_codegen_fallback(spark, tmp_path, step):
    """Every output write compiles whole-stage codegen; with the fallback
    off, a plan that would drop to interpreted code fails the write."""
    outputs = run_step(spark, step, BUILDERS[step](spark, tmp_path))
    with session_scoped_conf(spark, {"spark.sql.codegen.fallback": "false"}):
        for name, df in outputs.items():
            df.write.parquet(str(tmp_path / "out" / name))


def test_snapshot_digest_is_partitioning_invariant(spark, tmp_path):
    """The canonicalizer must not leak physical layout: same data, different
    partitioning → same digest."""
    df = spark.createDataFrame(
        [(i, f"v{i}", [float(i), i / 3.0]) for i in range(50)],
        "id: long, s: string, xs: array<double>",
    )
    assert snapshot_digest(df.repartition(13)) == snapshot_digest(df.coalesce(1))


if __name__ == "__main__":
    import pathlib
    import tempfile

    from platform_etl_backend_spark.engine.session import get_spark

    spark = get_spark(
        "golden-regen", master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    tmp = pathlib.Path(tempfile.mkdtemp())
    result = {step: _compute(spark, tmp, step) for step in sorted(BUILDERS)}
    print("GOLDEN = " + json.dumps(result, indent=4))
