"""Config-driven pipeline runner — the reference's only user API
(``Main.scala:33-45``: steps named on the command line + a config tree
naming inputs/outputs/params; unknown steps throw).

Config shape (JSON; HOCON-equivalent tree):

    {
      "spark": {"spark.sql.shuffle.partitions": "64"},
      "steps": {
        "reactome": {
          "input":  {"pathways": {"format": "csv", "path": "...",
                                  "options": {"sep": "\\t", "header": "false"}},
                     "relations": {"format": "csv", "path": "...", ...}},
          "output": {"reactome": {"format": "parquet", "path": "...",
                                  "write_mode": "overwrite"}},
          "params": {"species": "Homo sapiens"}
        }
      }
    }
"""

from __future__ import annotations

import json
from typing import Any, Mapping

from pyspark.sql import SparkSession

from platform_etl_backend_spark.engine.config import IOResourceConfig, parse_input_map
from platform_etl_backend_spark.engine.io import IOResource, read_from, write_to
from platform_etl_backend_spark.engine.session import get_spark


def load_config(path: str) -> dict:
    with open(path, "r", encoding="utf-8") as fh:
        return json.load(fh)


def run_steps(step_names: list[str], config: Mapping[str, Any],
              spark: SparkSession | None = None) -> None:
    """Run steps sequentially in the order given (Main.scala:33-40). Every
    step name and IO config block is checked before a session starts or any
    step runs, so a bad name or key late in the list writes nothing. A
    configured output that the step does not return raises before that
    step writes anything."""
    from platform_etl_backend_spark.steps import STEPS, run_step  # late: avoid cycles

    unknown = [n for n in step_names if n not in STEPS]
    if unknown:
        raise ValueError(f"unknown step {unknown}; known: {sorted(STEPS)}")
    steps_conf = config.get("steps", {})
    plan = []
    for name in step_names:
        conf = steps_conf.get(name, {})
        out_conf = {
            k: IOResourceConfig.from_dict(v) for k, v in conf.get("output", {}).items()
        }
        plan.append((name, parse_input_map(conf.get("input", {})), out_conf,
                     conf.get("params", {})))
    own_session = spark is None
    if spark is None:
        spark = get_spark(extra_conf=config.get("spark", {}))
    try:
        for name, in_conf, out_conf, params in plan:
            inputs = read_from(spark, in_conf)
            outputs = run_step(spark, name, {k: r.data for k, r in inputs.items()},
                               **params)
            missing = sorted(out_conf.keys() - outputs.keys())
            if missing:
                raise ValueError(
                    f"step '{name}' does not return configured output(s) {missing}; "
                    f"it returns {sorted(outputs)}"
                )
            write_to(
                {
                    k: IOResource(df, out_conf[k])
                    for k, df in outputs.items()
                    if k in out_conf
                }
            )
    finally:
        if own_session:
            spark.stop()


def run_query(name: str, sf_dir: str, limit: int = 20,
              spark: SparkSession | None = None) -> list:
    """Run one named catalog query against a testdata directory and return
    up to ``limit`` rows — the ad-hoc analyst entry point beside the
    config-driven step runner."""
    from platform_etl_backend_spark.catalog import QUERIES  # late: avoid cycles

    if name not in QUERIES:
        raise ValueError(f"unknown query '{name}'; known: {sorted(QUERIES)[:10]}... "
                         f"({len(QUERIES)} total)")
    own_session = spark is None
    if spark is None:
        spark = get_spark()
    try:
        return QUERIES[name].fn(spark, sf_dir).limit(limit).collect()
    finally:
        if own_session:
            spark.stop()


def main(argv: list[str]) -> int:
    import argparse

    ap = argparse.ArgumentParser(prog="platform_etl_backend_spark")
    sub = ap.add_subparsers(dest="command", required=True)
    runp = sub.add_parser("run", help="run pipeline steps from a config")
    runp.add_argument("steps", nargs="+")
    runp.add_argument("--config", required=True)
    qp = sub.add_parser("query", help="run one catalog query ad hoc")
    qp.add_argument("name")
    qp.add_argument("--sf", default="/root/testdata/sf0.001")
    qp.add_argument("--limit", type=int, default=20)
    pp = sub.add_parser("profile", help="profile a parquet table (per-column stats)")
    pp.add_argument("path")
    pp.add_argument("--approx", action="store_true",
                    help="HLL distinct counts (for very large tables)")
    args = ap.parse_args(argv)
    if args.command == "run":
        run_steps(args.steps, load_config(args.config))
    elif args.command == "profile":
        from platform_etl_backend_spark.operators.profile import profile_table

        spark = get_spark("profile")
        try:
            for row in profile_table(
                spark.read.parquet(args.path), approx=args.approx
            ).collect():
                print(row)
        finally:
            spark.stop()
    else:
        for row in run_query(args.name, args.sf, args.limit):
            print(row)
    return 0
