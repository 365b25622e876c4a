"""A step input without a column its shape has fails with a named error.

Each step input key has one shape and the step reads its columns directly
(``tests/test_no_column_sniffs.py``), so an input that lacks one fails when
Spark analyses the step's plan: an ``AnalysisException`` that names the
column, raised before anything is written. One case per column that a step
used to tolerate missing (as nulls or as an output it did not emit).
"""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException

from platform_etl_backend_spark.engine.runner import run_steps
from platform_etl_backend_spark.steps import run_step
from tests.test_golden_snapshots import BUILDERS


def _search_entities(spark, tmp_path):
    inputs = BUILDERS["search"](spark, tmp_path)
    inputs["drugs"] = spark.createDataFrame(
        [("CHEMBL1", "aspirin", ["acetylsalicylic acid"], ["Aspro"], "small molecule")],
        "id: string, name: string, synonyms: array<string>, tradeNames: array<string>, "
        "drugType: string",
    )
    inputs["variants"] = spark.createDataFrame(
        [("1_100_A_G", ["rs123"], "hgvs:1", [("dbsnp", "rs123x")], "1", "100")],
        "variantId: string, rsIds: array<string>, hgvsId: string, "
        "dbXrefs: array<struct<source:string,id:string>>, chromosome: string, position: string",
    )
    inputs["studies"] = spark.createDataFrame(
        [("GCST1", "height", "pm1", "Doe J", ["EFO_1"], 1000, "ENSG1")],
        "studyId: string, traitFromSource: string, pubmedId: string, "
        "publicationFirstAuthor: string, diseaseIds: array<string>, nSamples: long, "
        "geneId: string",
    )
    return inputs


def _interaction_generated_mapping(spark, tmp_path):
    inputs = BUILDERS["interaction"](spark, tmp_path)
    del inputs["mapping"]
    inputs["targets"] = spark.createDataFrame(
        [("ENSG1", [("P100", "uniprot_swissprot")], [("1", "HGNC")])],
        "id: string, proteinIds: array<struct<id:string,source:string>>, "
        "dbXRefs: array<struct<id:string,source:string>>",
    )
    return inputs


def _target_with_uniprot(spark, tmp_path):
    inputs = BUILDERS["target"](spark, tmp_path)
    path = tmp_path / "uniprot.txt"
    path.write_text("ID   X1_HUMAN   Reviewed;  100 AA.\nAC   P1;\n//\n")
    # Spark's text source names its column ``value``; the ``record_text``
    # reader renames it to ``record``
    inputs["uniprot"] = spark.read.text(str(path)).withColumnRenamed("value", "record")
    return inputs


# (step, input builder, input key, column, through run_steps)
CASES = [
    ("go", BUILDERS["go"], "go_terms", "obsolete", True),
    ("interaction", _interaction_generated_mapping, "targets", "dbXRefs", False),
    ("search", BUILDERS["search"], "diseases", "description", False),
    ("search", _search_entities, "variants", "dbXrefs", False),
    ("search", _search_entities, "variants", "rsIds", False),
    ("search", _search_entities, "variants", "hgvsId", False),
    ("search", _search_entities, "studies", "pubmedId", False),
    ("search", _search_entities, "studies", "publicationFirstAuthor", False),
    ("search", _search_entities, "studies", "traitFromSource", False),
    ("search", _search_entities, "studies", "diseaseIds", False),
    ("search", _search_entities, "drugs", "tradeNames", False),
    ("search", _search_entities, "drugs", "drugType", False),
    ("search_facet", BUILDERS["search_facet"], "targets", "go", False),
    ("search_facet", BUILDERS["search_facet"], "targets", "subcellularLocations", False),
    ("search_facet", BUILDERS["search_facet"], "targets", "targetClass", False),
    ("search_facet", BUILDERS["search_facet"], "targets", "pathways", False),
    ("search_facet", BUILDERS["search_facet"], "targets", "tractability", False),
    ("search_facet", BUILDERS["search_facet"], "diseases", "therapeuticAreas", True),
    ("target", _target_with_uniprot, "uniprot", "record", False),
]


@pytest.mark.parametrize(
    "step, build, key, column, via_runner",
    CASES,
    ids=[f"{s}-{k}-{c}" for s, _, k, c, _ in CASES],
)
def test_missing_column_raises_analysis_exception(
    spark, tmp_path, step, build, key, column, via_runner
):
    inputs = build(spark, tmp_path)
    assert column in inputs[key].columns  # the case drops a real column
    inputs[key] = inputs[key].drop(column)
    if not via_runner:
        with pytest.raises(AnalysisException, match=f"`{column}`"):
            run_step(spark, step, inputs)
        return
    conf = {"input": {}, "output": {}}
    for name, df in inputs.items():
        path = str(tmp_path / "in" / name)
        df.write.parquet(path)
        conf["input"][name] = {"format": "parquet", "path": path}
    for name in run_step(spark, step, BUILDERS[step](spark, tmp_path)):
        conf["output"][name] = {"format": "parquet", "path": str(tmp_path / "out" / name)}
    with pytest.raises(AnalysisException, match=f"`{column}`"):
        run_steps([step], {"steps": {step: conf}}, spark=spark)
    assert not os.path.exists(tmp_path / "out")  # the step wrote nothing
