"""Configuration model for IO resources and steps.

Reference parity: ``backend/Configuration.scala`` — HOCON → pureconfig case
classes. Here: plain dataclasses (optionally loadable from dict/JSON/YAML-ish
nested dicts), with the same write-mode validation
(``Configuration.scala:188-197`` checks against Spark's five modes). An IO
block with a key that names no ``IOResourceConfig`` field is rejected.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields
from typing import Any, Mapping

WRITE_MODES = frozenset({"error", "errorifexists", "append", "overwrite", "ignore"})


def validate_write_mode(mode: str) -> str:
    """Reject anything that isn't one of Spark's DataFrameWriter modes."""
    if mode.lower() not in WRITE_MODES:
        raise ValueError(f"Invalid write mode '{mode}'; valid: {sorted(WRITE_MODES)}")
    return mode.lower()


@dataclass(frozen=True)
class IOResourceConfig:
    """One named input or output (reference ``IOResourceConfig``,
    Configuration.scala:205-210): format + path + reader/writer options +
    optional partition columns, plus the output layouts the steps use
    (single-file coalesce, range clustering) and the write mode."""

    format: str
    path: str
    options: Mapping[str, str] = field(default_factory=dict)
    partition_by: tuple[str, ...] = ()
    write_mode: str = "error"
    # S9 single-file outputs (Epmc.scala:73, OpenFdaCompute.scala:63-64):
    # only set when single-file is a semantic requirement — at scale it
    # serializes the write through one task.
    coalesce: int | None = None
    # Physical output clustering (Interaction.scala:440 repartitionByRange):
    # rows are range-partitioned on these columns before the write, so each
    # output file covers a disjoint key range — downstream merge joins and
    # range scans on the cluster keys skip files. ``range_partitions`` bounds
    # the file count (the reference pins 200); None lets AQE pick.
    range_partition_by: tuple[str, ...] = ()
    range_partitions: int | None = None

    def __post_init__(self) -> None:
        validate_write_mode(self.write_mode)
        if self.range_partitions is not None and not self.range_partition_by:
            raise ValueError("range_partitions requires range_partition_by columns")
        if self.range_partition_by and self.coalesce:
            raise ValueError(
                "coalesce would collapse range clustering; set one or the other"
            )

    @classmethod
    def from_dict(cls, d: Mapping[str, Any]) -> "IOResourceConfig":
        """Build from a config block; a key that is not a field (a typo such
        as ``write_mod``) raises instead of being silently ignored."""
        known = [f.name for f in fields(cls)]
        unknown = sorted(set(d) - set(known))
        if unknown:
            raise ValueError(f"unknown IO config keys {unknown}; known: {known}")
        return cls(
            format=d["format"],
            path=d["path"],
            options=dict(d.get("options", {})),
            partition_by=tuple(d.get("partition_by", ())),
            write_mode=d.get("write_mode", "error"),
            coalesce=d.get("coalesce"),
            range_partition_by=tuple(d.get("range_partition_by", ())),
            range_partitions=d.get("range_partitions"),
        )


def parse_input_map(conf: Mapping[str, Mapping[str, Any]]) -> dict[str, IOResourceConfig]:
    """A step's input block: name → IOResourceConfig (IoHelpers.scala:42-43)."""
    return {name: IOResourceConfig.from_dict(d) for name, d in conf.items()}
