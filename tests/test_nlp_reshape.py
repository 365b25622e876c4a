from __future__ import annotations

from pyspark.sql import functions as F

from platform_etl_backend_spark.functions.columns import priority_dedup_array
from platform_etl_backend_spark.operators import nlp as NLP


def test_label_key_pipeline(spark):
    df = spark.createDataFrame(
        [
            (1, "The TNF-α Receptors"),
            (2, "receptors of tnf alpha!"),  # same entity, different surface
            (3, "unrelated gene"),
        ],
        ["id", "label"],
    )
    out = {r.id: r.key for r in df.select("id", NLP.label_key("label").alias("key")).collect()}
    assert out[1] == out[2]  # grounding keys unify surface variants
    assert out[1] != out[3]
    assert out[1] == "alpha receptor tnf"


def test_stemmer_rules(spark):
    df = spark.createDataFrame(
        [("ponies",), ("caresses",), ("cats",), ("agreed",), ("running",)], ["w"]
    )
    out = [r[0] for r in df.select(NLP.stem_token(F.col("w"))).collect()]
    assert out == ["poni", "caress", "cat", "agree", "runn"]


def test_priority_dedup_array(spark):
    """cleanProteinIds semantics (Target.scala:525-593): keep the
    highest-priority source per id, output sorted by (priority, id)."""
    data = [
        (
            1,
            [
                {"id": "P1", "source": "uniprot_trembl"},
                {"id": "P1", "source": "uniprot_swissprot"},
                {"id": "P0", "source": "uniprot_trembl"},
                {"id": "P2", "source": "ensembl_PRO"},
                {"id": "P2", "source": "uniprot"},
            ],
        )
    ]
    df = spark.createDataFrame(
        data, "k: int, ids: array<struct<id: string, source: string>>"
    )
    priority = {"uniprot_swissprot": 0, "uniprot_trembl": 1, "uniprot": 2, "ensembl_PRO": 3}
    out = df.select(priority_dedup_array(F.col("ids"), priority).alias("ids")).first().ids
    assert [(x.id, x.source) for x in out] == [
        ("P1", "uniprot_swissprot"),
        ("P0", "uniprot_trembl"),
        ("P2", "uniprot"),
    ]
