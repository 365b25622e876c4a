"""Facet-search step: entity documents → searchable facet rows.

Reference (``searchFacet/*``): 8 target + 2 disease facet family extractors
over the target and disease documents, each producing the shared ``Facets``
schema (label, category, entityIds, datasourceId), unioned by name
(SearchFacet.scala:68-109). Category display names come from config
(reference.conf:392-408).

Parity notes per family (datasourceId semantics differ by family):
- simple facets (Helpers.scala:24-43): groupBy(label, category), null
  datasourceId, no null-label filter.
- subcellularLocations (TargetFacets.scala:132-157): datasourceId = termSl.
- targetClass (:170-190): null datasourceId.
- pathways (:201-222): datasourceId = pathwayId.
- GO (:233-262): LEFT join to the GO lookup for the term name as label,
  datasourceId = the GO id, aspect keys are single letters F/P/C. (The
  reference joins its (id, name) GO table then groups by "label"; the
  intent — label = term name — is what we implement.)
- tractability (:33-65): keep value==true buckets, modality → category LUT.
- diseaseName (DiseaseFacets.scala:23-38): datasourceId = the disease id.
- therapeuticArea (:50-73): TA label resolved through a self-join on the
  disease table (TA ids are disease ids), datasourceId = TA id.

Scale: every family is a map-side explode + one hash aggregation on
(label, category, datasourceId), so its keys are unique without a distinct;
the GO/TA lookups are broadcast joins so no family adds more than one
shuffle. The reference's coalesce(200) output hygiene lives in the writer
config, not here.
"""

from __future__ import annotations

from functools import reduce
from itertools import chain
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# facet categories (reference.conf:392-408 searchFacet.categories)
CATEGORIES = {
    "targetId": "Target ID",
    "approvedSymbol": "Approved Symbol",
    "approvedName": "Approved Name",
    "F": "GO:MF", "P": "GO:BP", "C": "GO:CC",
    "subcellularLocation": "Subcellular Location",
    "targetClass": "ChEMBL Target Class",
    "pathways": "Reactome",
    "SM": "Tractability Small Molecule",
    "AB": "Tractability Antibody",
    "PR": "Tractability PROTAC",
    "OC": "Tractability Other Modalities",
    "diseaseName": "Disease",
    "therapeuticArea": "Therapeutic Area",
}

FACET_SCHEMA_COLS = ("label", "category", "entityIds", "datasourceId")


def _lut(*keys: str) -> F.Column:
    return F.create_map(
        *chain.from_iterable((F.lit(k), F.lit(CATEGORIES[k])) for k in keys)
    )


def simple_facet(df: DataFrame, label_field: str, category: str, id_field: str) -> DataFrame:
    """searchFacet/Helpers.scala:24-43 computeSimpleFacet: group entity ids
    per (label, category); datasourceId is always null here."""
    return (
        df.select(
            F.col(label_field).alias("label"),
            F.lit(category).alias("category"),
            F.col(id_field).alias("id"),
        )
        .groupBy("label", "category")
        .agg(F.collect_set("id").alias("entityIds"))
        .withColumn("datasourceId", F.lit(None).cast("string"))
        .select(*FACET_SCHEMA_COLS)
    )


def array_facet(
    df: DataFrame, id_field: str, array_field: str, label_expr: str, category: str,
    datasource_expr: str | None = None,
) -> DataFrame:
    """Array-of-structs facet families (TargetFacets getRelevantDataset +
    flatMap → explode). Null arrays are dropped (Helpers.scala:50-53)."""
    x = (
        df.where(F.col(array_field).isNotNull())
        .select(F.col(id_field).alias("id"), F.explode(array_field).alias("x"))
    )
    ds = F.expr(datasource_expr) if datasource_expr else F.lit(None).cast("string")
    return (
        x.select(
            F.expr(label_expr).alias("label"),
            F.lit(category).alias("category"),
            F.col("id"),
            ds.alias("datasourceId"),
        )
        .groupBy("label", "category", "datasourceId")
        .agg(F.collect_set("id").alias("entityIds"))
        .select(*FACET_SCHEMA_COLS)
    )


def tractability_facets(targets: DataFrame) -> DataFrame:
    """TargetFacets.scala:33-65 computeTractabilityFacets: value==true
    buckets, modality mapped through the category LUT, null datasourceId."""
    modality_map = _lut("SM", "AB", "PR", "OC")
    x = (
        targets.where(F.col("tractability").isNotNull())
        .select(F.col("id"), F.explode("tractability").alias("t"))
        .where(F.col("t.value") == True)  # noqa: E712
    )
    return (
        x.select(
            F.col("t.id").alias("label"),
            F.coalesce(modality_map[F.col("t.modality")], F.col("t.modality")).alias("category"),
            "id",
        )
        .groupBy("label", "category")
        .agg(F.collect_set("id").alias("entityIds"))
        .withColumn("datasourceId", F.lit(None).cast("string"))
        .select(*FACET_SCHEMA_COLS)
    )


def go_facets(targets: DataFrame, go: DataFrame) -> DataFrame:
    """TargetFacets.scala:233-262 computeGOFacets: explode target go structs,
    LEFT-join the (id, name) GO lookup for the label, datasourceId = GO id,
    aspect letter mapped F/P/C → GO:MF / GO:BP / GO:CC."""
    aspect_map = _lut("F", "P", "C")
    go_x = (
        targets.where(F.col("go").isNotNull())
        .select(F.col("id").alias("ensemblGeneId"), F.explode("go").alias("g"))
        .select(
            "ensemblGeneId",
            F.col("g.id").alias("goId"),
            F.col("g.aspect").alias("aspect"),
        )
    )
    lut = go.select(F.col("id").alias("goId"), F.col("name").alias("label"))
    return (
        go_x.join(F.broadcast(lut), ["goId"], "left")
        .select(
            "label",
            F.coalesce(aspect_map[F.col("aspect")], F.col("aspect")).alias("category"),
            F.col("goId").alias("datasourceId"),
            "ensemblGeneId",
        )
        .groupBy("label", "category", "datasourceId")
        .agg(F.collect_set("ensemblGeneId").alias("entityIds"))
        .select(*FACET_SCHEMA_COLS)
    )


def compute_target_facets(targets: DataFrame, go: DataFrame) -> DataFrame:
    facets = [
        simple_facet(targets, "id", CATEGORIES["targetId"], "id"),
        simple_facet(targets, "approvedSymbol", CATEGORIES["approvedSymbol"], "id"),
        simple_facet(targets, "approvedName", CATEGORIES["approvedName"], "id"),
    ]
    if go is not None:
        facets.append(go_facets(targets, go))
    facets += [
        array_facet(targets, "id", "subcellularLocations", "x.location",
                    CATEGORIES["subcellularLocation"], "x.termSl"),
        array_facet(targets, "id", "targetClass", "x.label", CATEGORIES["targetClass"]),
        array_facet(targets, "id", "pathways", "x.pathway",
                    CATEGORIES["pathways"], "x.pathwayId"),
        tractability_facets(targets),
    ]
    return reduce(lambda a, b: a.unionByName(b), facets)


def therapeutic_area_facets(diseases: DataFrame) -> DataFrame:
    """DiseaseFacets.scala:50-73: explode therapeuticAreas (disease ids),
    self-join the disease table to resolve the TA's display name as the
    label; datasourceId = the TA id, entityIds = member disease ids."""
    names = diseases.select(F.col("id").alias("taId"), F.col("name").alias("label"))
    ta = (
        diseases.where(F.col("therapeuticAreas").isNotNull())
        .select(F.col("id").alias("diseaseId"), F.explode("therapeuticAreas").alias("taId"))
    )
    return (
        ta.join(F.broadcast(names), ["taId"])
        .select(
            "label",
            F.lit(CATEGORIES["therapeuticArea"]).alias("category"),
            F.col("taId").alias("datasourceId"),
            "diseaseId",
        )
        .groupBy("label", "category", "datasourceId")
        .agg(F.collect_set("diseaseId").alias("entityIds"))
        .select(*FACET_SCHEMA_COLS)
    )


def disease_name_facets(diseases: DataFrame) -> DataFrame:
    """DiseaseFacets.scala:23-38: per-disease facet, datasourceId = the
    disease's own id (so each disease keeps its own row)."""
    return (
        diseases.select(
            F.col("name").alias("label"),
            F.lit(CATEGORIES["diseaseName"]).alias("category"),
            F.col("id").alias("datasourceId"),
            F.col("id"),
        )
        .groupBy("label", "category", "datasourceId")
        .agg(F.collect_set("id").alias("entityIds"))
        .select(*FACET_SCHEMA_COLS)
    )


def compute_disease_facets(diseases: DataFrame) -> DataFrame:
    return disease_name_facets(diseases).unionByName(therapeutic_area_facets(diseases))


def search_facet_step(
    spark: SparkSession, inputs: Mapping[str, DataFrame]
) -> Mapping[str, DataFrame]:
    return {
        "facets_target": compute_target_facets(inputs["targets"], inputs.get("go")),
        "facets_disease": compute_disease_facets(inputs["diseases"]),
    }
