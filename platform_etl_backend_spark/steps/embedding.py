"""Word2Vec embedding + vector export.

Reference: ``literature/Embedding.scala:71-91`` (Spark MLlib Word2Vec with
windowSize 10, numPartitions 16, maxIter 3, minCount 1, stepSize 0.02 —
reference.conf:770-778) and ``literature/Vectors.scala:17-49`` (model →
getVectors → L2 norm → export).

The norm is computed in pure Catalyst (aggregate over the array) instead of
the reference's ``norm(v,2)`` Scala UDF (X5) — no Python/JVM boundary.
"""

from __future__ import annotations

from pyspark.ml.feature import Word2Vec, Word2VecModel
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def train_word2vec(
    sentences: DataFrame,
    tokens_col: str = "tokens",
    vector_size: int = 32,
    window_size: int = 10,
    num_partitions: int = 16,
    max_iter: int = 3,
    min_count: int = 1,
    step_size: float = 0.02,
    seed: int = 42,
) -> Word2VecModel:
    """Determinism note: training is reproducible ONLY when
    ``num_partitions=1`` with a fixed ``seed`` (pinned by
    tests/test_steps.py::test_word2vec_deterministic_when_single_partition_seeded).
    With the reference's production numPartitions=16 (reference.conf:773)
    gradient updates race across partitions (Hogwild-style) and vectors
    drift run-to-run — the same trade the reference makes; use 1 partition
    where exact reproducibility matters more than training speed."""
    w2v = Word2Vec(
        inputCol=tokens_col,
        outputCol="vector",
        vectorSize=vector_size,
        windowSize=window_size,
        numPartitions=num_partitions,
        maxIter=max_iter,
        minCount=min_count,
        stepSize=step_size,
        seed=seed,
    )
    return w2v.fit(sentences)


def export_vectors(model: Word2VecModel) -> DataFrame:
    """model.getVectors → (category, word, norm, vector array<double>) —
    Vectors.scala:22-37: category from the keyword-id prefix (ENSG→target,
    CHEMBL→drug, else disease)."""
    vecs = model.getVectors().select(
        "word", vector_to_array(F.col("vector")).alias("vector")
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("vector"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    category = (
        F.when(F.col("word").startswith("ENSG"), F.lit("target"))
        .when(F.col("word").startswith("CHEMBL"), F.lit("drug"))
        .otherwise(F.lit("disease"))
    )
    return vecs.select(
        category.alias("category"), "word", norm.alias("norm"), "vector"
    )


def embedding_step(spark, inputs, model_path: str | None = None, **w2v_params):
    """Runner-compatible step: publications(text) → tokens → Word2Vec →
    exported vectors; optionally persists the model directory
    (IOResourceML flow, Literature.scala → Embedding → Vectors)."""
    from pyspark.sql import functions as F

    # No lowercasing: the reference trains over keyword-id sequences
    # (ENSG…/CHEMBL…/EFO…), whose case carries the category downstream.
    sentences = inputs["publications"].select(
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "").alias("tokens")
    )
    model = train_word2vec(sentences, **w2v_params)
    if model_path:
        from platform_etl_backend_spark.engine.io import IOMLResource

        IOMLResource(model, model_path).save()
    return {"vectors": export_vectors(model)}
