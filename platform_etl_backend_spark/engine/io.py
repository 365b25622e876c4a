"""IO resource layer: maps of named DataFrames in, maps of named writes out.

Reference parity: ``spark/IoHelpers.scala`` —
- ``IOResource`` (:14) couples a DataFrame with its IO config.
- ``readFrom`` (:48-72): each configured input becomes a lazy scan —
  ``format`` + ``path`` + options, through Spark's own sources. Two
  engine formats sit beside them: ``obo`` (ontology stanzas, parsed on the
  driver like the reference) and ``record_text`` (UniprotKB-style records
  through Spark's text source with a custom record delimiter).
- ``writeTo`` (:98-196): partitionBy + options + mode + save. The
  reference's duplicate outputs in extra formats are not ported: no config
  uses them.

Scale notes: writes go through ``partitionBy`` for partition-pruned
downstream scans; single-file outputs use ``coalesce(1)`` only when the
config demands it (semantic requirement, e.g. a metrics CSV) because at
100TB a single output file is otherwise an anti-pattern.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession

from platform_etl_backend_spark.engine.config import IOResourceConfig


@dataclass
class IOResource:
    data: DataFrame
    configuration: IOResourceConfig


@dataclass
class IOMLResource:
    """An ML model as an IO resource (reference IOResourceML,
    IoHelpers.scala:15,85-96): saved/loaded as a model directory."""

    model: object  # any pyspark.ml model with .save/.write
    path: str

    def save(self) -> None:
        self.model.write().overwrite().save(self.path)


def read_single(spark: SparkSession, conf: IOResourceConfig) -> DataFrame:
    # engine-native flat-file formats the reference parsed outside Spark
    if conf.format == "obo":
        from platform_etl_backend_spark.sources.flatfile import read_obo

        return read_obo(spark, conf.path)
    if conf.format == "record_text":
        from platform_etl_backend_spark.sources.flatfile import read_delimited_records

        delim = dict(conf.options).get("delimiter", "//\n")
        return read_delimited_records(spark, conf.path, delim)
    reader = spark.read.format(conf.format)
    if conf.options:
        reader = reader.options(**dict(conf.options))
    return reader.load(conf.path)


def read_from(
    spark: SparkSession, inputs: Mapping[str, IOResourceConfig]
) -> dict[str, IOResource]:
    """Named lazy scans (IoHelpers.readFrom, :48-72)."""
    return {name: IOResource(read_single(spark, c), c) for name, c in inputs.items()}


def apply_output_layout(df: DataFrame, conf: IOResourceConfig) -> DataFrame:
    """Physical layout requested by the config, applied just before the
    write: range clustering (Interaction.scala:440 — each output file a
    disjoint key range; one range exchange, no semantic change) or the
    single-file coalesce."""
    if conf.range_partition_by:
        if conf.range_partitions:
            df = df.repartitionByRange(conf.range_partitions, *conf.range_partition_by)
        else:
            df = df.repartitionByRange(*conf.range_partition_by)
    if conf.coalesce:
        df = df.coalesce(conf.coalesce)
    return df


def write_single(resource: IOResource) -> None:
    """Write one resource (IoHelpers.scala:106-120)."""
    conf = resource.configuration
    writer = apply_output_layout(resource.data, conf).write.mode(conf.write_mode)
    if conf.partition_by:
        writer = writer.partitionBy(*conf.partition_by)
    if conf.options:
        writer = writer.options(**dict(conf.options))
    writer.format(conf.format).save(conf.path)


def write_to(outputs: Mapping[str, IOResource]) -> None:
    for resource in outputs.values():
        write_single(resource)
