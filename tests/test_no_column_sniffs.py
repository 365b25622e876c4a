"""No step probes its inputs' columns or schema.

A step that asks ``"x" in df.columns`` runs one of two code paths for one
input key, and each caller picks a side without saying so: a missing column
quietly becomes nulls or an output that is not emitted. Each input key has
one shape instead, and a step reads the columns of that shape directly, so
a missing column fails when Spark analyses the plan, with an
``AnalysisException`` that names it. Where a column exists only when some
other input is configured, the step branches on that input key; where two
real shapes exist, each has its own key.

The scan is an AST walk over every ``.py`` file under ``steps/``. A probe
is:
- a membership test (``in`` / ``not in``) against a ``.columns`` attribute;
- any read of a ``.schema``, ``.dtypes`` or ``.fieldNames`` attribute.

Iterating over ``df.columns`` (a rename loop, a positional ``columns[i]``)
tests for no column and is not a probe. There is no allowlist.
"""

from __future__ import annotations

import ast
from pathlib import Path

STEPS = Path(__file__).resolve().parent.parent / "platform_etl_backend_spark" / "steps"
SCHEMA_ATTRS = {"schema", "dtypes", "fieldNames"}


def _is_columns(node: ast.AST) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "columns"


def _probes(tree: ast.AST) -> list[int]:
    """Line numbers of every probe in ``tree``."""
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Compare):
            hits += [
                node.lineno
                for op, right in zip(node.ops, node.comparators)
                if isinstance(op, (ast.In, ast.NotIn)) and _is_columns(right)
            ]
        elif isinstance(node, ast.Attribute) and node.attr in SCHEMA_ATTRS:
            hits.append(node.lineno)
    return hits


def test_steps_do_not_probe_input_columns():
    hits = [
        f"{path.name}:{line}"
        for path in sorted(STEPS.glob("*.py"))
        for line in sorted(_probes(ast.parse(path.read_text())))
    ]
    assert not hits, (
        f"{len(hits)} column or schema probes in steps/; read the column "
        "directly, branch on the input key that brings it, or give each "
        "input shape its own key: " + ", ".join(hits)
    )
