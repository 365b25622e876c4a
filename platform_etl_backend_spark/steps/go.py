"""GO step: OBO ontology file → (id, name) lookup table.

Reference: ``backend/Go.scala:12-30`` + ``preprocess/go/GoConverter.scala``
(driver-side stanza parse → 2-column DataFrame).
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def go_step(
    spark: SparkSession,
    inputs: Mapping[str, DataFrame],
    include_obsolete: bool = False,
) -> Mapping[str, DataFrame]:
    terms = inputs["go_terms"]
    if not include_obsolete:
        terms = terms.where(~F.col("obsolete"))
    return {"go": terms.select("id", "name")}
