"""Reactome step: pathway ontology → closure-annotated pathway table.

Reference dataflow (``backend/Reactome.scala:13-33`` +
``graph/GraphNode.scala:54-92``):
1. pathways TSV (id, name, species) filtered to Homo sapiens;
2. relations TSV (src parent, dst child) forming a DAG (cycles dropped);
3. per-pathway: ancestors, descendants, children, parents, and all paths
   from roots;
4. joined back onto the pathway labels.

This port builds ONE acyclic networkx graph on the driver
(``operators/graph.py::driver_closure``, the reference's collect-to-driver
shape), turns all five graph columns into one ``createDataFrame`` and
left-joins it onto the cleaned pathways. Pathways without a retained edge
get the isolated-node defaults: empty lists and the single path ``[[id]]``.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from platform_etl_backend_spark.operators.graph import driver_closure

GRAPH_COLUMNS = ("ancestors", "descendants", "parents", "children")


def clean_pathways(pathways: DataFrame, species: str = "Homo sapiens") -> DataFrame:
    """Reactome.cleanPathways (Reactome.scala:13-16): positional TSV columns
    renamed, species filter."""
    cols = pathways.columns
    renamed = pathways.select(
        F.col(cols[0]).alias("id"),
        F.col(cols[1]).alias("name"),
        F.col(cols[2]).alias("species"),
    )
    return renamed.where(F.col("species") == species).drop("species")


def reactome_step(
    spark: SparkSession,
    inputs: Mapping[str, DataFrame],
    species: str = "Homo sapiens",
) -> Mapping[str, DataFrame]:
    pathways = clean_pathways(inputs["pathways"], species)
    rel_cols = inputs["relations"].columns
    edges = inputs["relations"].select(
        F.col(rel_cols[0]).alias("src"), F.col(rel_cols[1]).alias("dst")
    )
    # keep only edges between retained pathways (species filter side effect)
    ids = pathways.select(F.col("id").alias("src"))
    edges = (
        edges.join(F.broadcast(ids), "src", "left_semi")
        .join(F.broadcast(ids.withColumnRenamed("src", "dst")), "dst", "left_semi")
    )
    info = driver_closure(edges)
    graph = spark.createDataFrame(
        [(n, *(d[c] for c in GRAPH_COLUMNS), d["paths"]) for n, d in info.items()],
        "id: string, ancestors: array<string>, descendants: array<string>, "
        "parents: array<string>, children: array<string>, path: array<array<string>>",
    )
    empty = F.array().cast("array<string>")
    lists = {c: F.coalesce(F.col(c), empty) for c in GRAPH_COLUMNS}
    out = pathways.join(graph, "id", "left").select(
        "id",
        "name",
        *[col.alias(c) for c, col in lists.items()],
        (F.size(lists["parents"]) == 0).alias("isRoot"),
        (F.size(lists["children"]) == 0).alias("isLeaf"),
        F.coalesce(F.col("path"), F.array(F.array(F.col("id")))).alias("path"),
    )
    return {"reactome": out}
