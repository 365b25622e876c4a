#!/usr/bin/env python
"""Dump .explain("formatted") and the oracle SQL of catalog queries to
<out>/<q>_<tag>.txt.

Usage:
  python scripts/explain_dump.py --out plans/r13 --tag before q_entity_resolution q_nb_crossval
  python scripts/explain_dump.py --out plans/r13 --tag after --sf <sf_dir> q_x
  python scripts/explain_dump.py --out plans/r13 --tag after --sf <sf_dir>    # every query

Dump the same queries with ``--tag before`` on the parent checkout and
``--tag after`` on the change, then diff the two files per query.

Identifiers that depend on what ran earlier in the process are masked, so
two dumps of unchanged plans are identical whatever the query order:
expression ids (``#123``), exchange plan ids (``plan_id=42``), the
numbered variables of Python lambdas (``lambda x_9``), RDD ids
(``MapPartitionsRDD[12]``) and RDD call sites (``at <unknown>:0``,
``at NativeMethodAccessorImpl.java:0``). Only
identifiers are masked, never operators or expressions. The Spark cache is
cleared after each query, so no query's plan reads a frame that an earlier
one persisted. The query's oracle
SQL, whitespace collapsed, follows the plan under an ``== Oracle ==``
header (``None`` for a rows-only query).

Known exceptions: the ``Expand`` of ``q_profile_table`` (and of
``q_decontaminate``, whose two distinct counts plan the same way)
lists its columns in an order that varies between runs of one commit, so
their dumps can differ on an unchanged plan.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1_N"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r" at (?:<unknown>|[\w$.]+\.(?:java|scala|py)):\d+"), " at <site>"),
]


def mask(plan: str) -> str:
    for pattern, repl in _MASKS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="query names (default: every registered query)")
    ap.add_argument("--out", required=True, help="directory the dumps go to")
    ap.add_argument("--tag", default="before", help="before|after suffix")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    args = ap.parse_args()

    from platform_etl_backend_spark.engine.session import get_spark
    from platform_etl_backend_spark.catalog import QUERIES

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark(
        "explain-dump",
        master=f"local[{args.cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in args.queries or sorted(QUERIES):
        spec = QUERIES[name]
        df = spec.fn(spark, args.sf)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        oracle = " ".join(spec.oracle.split()) if spec.oracle is not None else "None"
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"{mask(txt)}\n== Oracle ==\n{oracle}\n")
        n_exch = txt.count("Exchange")
        print(f"{name}: wrote {path} (Exchange x{n_exch})")
        # a frame one query persisted would otherwise replace the same
        # subplan in every later query's plan
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
