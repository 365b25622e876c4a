#!/usr/bin/env python
"""Dump .explain("formatted") for named queries to <out>/<q>_<tag>.txt.

Usage:
  python scripts/explain_dump.py --out plans/r13 --tag before q_entity_resolution q_nb_crossval
  python scripts/explain_dump.py --out plans/r13 --tag after --sf <sf_dir> q_x

Dump the same queries with ``--tag before`` on the parent checkout and
``--tag after`` on the change, then diff the two files per query.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
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
    for name in args.queries:
        df = QUERIES[name].fn(spark, args.sf)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        n_exch = txt.count("Exchange")
        print(f"{name}: wrote {path} (Exchange x{n_exch})")
    spark.stop()


if __name__ == "__main__":
    main()
