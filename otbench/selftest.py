#!/usr/bin/env python3
"""Self-test of the benchmark's input generators; starts no Spark session.

Run from the repository root:

    python3 otbench/selftest.py

Checks that the same seed writes byte-identical OT inputs and catalog
tables, that another seed writes different ones, and that the default seed
still writes the OT inputs the committed expectation was made from.
Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen_ot  # noqa: E402
import gen_tables  # noqa: E402
from run import INTERACTION_FILES, OT_GENES, WORK, files_sha256  # noqa: E402


def ot_inputs(root: str, seed: int) -> str:
    gen_ot.write_ot_inputs(root, seed, OT_GENES, INTERACTION_FILES)
    return files_sha256(os.path.join(root, "raw"))


def tables(root: str, seed: int) -> str:
    gen_tables.write_tables(root, seed, 0.01)
    return files_sha256(root)


def main() -> int:
    base = os.path.join(WORK, "selftest")
    shutil.rmtree(base, ignore_errors=True)
    with open(os.path.join(HERE, "expected_ot.json"), encoding="utf-8") as fh:
        expected = json.load(fh)
    failures = []
    for name, gen in (("ot inputs", ot_inputs), ("tables", tables)):
        a, b, c = (gen(os.path.join(base, f"{name}-{i}"), seed)
                   for i, seed in enumerate((expected["seed"], expected["seed"], expected["seed"] + 1)))
        if a != b:
            failures.append(f"{name}: the same seed wrote different files")
        if a == c:
            failures.append(f"{name}: two seeds wrote identical files")
        if name == "ot inputs" and a != expected["raw_sha256"]:
            failures.append(f"{name}: seed {expected['seed']} no longer writes the inputs "
                            "expected_ot.json was made from")
    shutil.rmtree(base, ignore_errors=True)
    for f in failures:
        print(f"selftest: FAILED {f}", file=sys.stderr)
    print("selftest: " + ("FAILED" if failures else "ok"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
