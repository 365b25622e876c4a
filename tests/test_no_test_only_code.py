"""Every top-level function and class in the package has a caller outside
the tests.

A definition that only tests call is code the engine ships but never runs:
it has to be kept working, yet no pipeline step, catalog query, script or
benchmark depends on it. The scan is textual: a name counts as referenced
when it appears as a whole word in a non-test ``.py`` file (the package,
``scripts/``, ``otbench/``, ``bench.py``, ``__spark_entry__.py``). In the
defining file, the lines of the definition itself do not count, so a
recursive call or a docstring that names the function is not a caller.
Registration by string (a catalog query listed by name) counts as a
reference, as does a mention in ``__all__``.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "platform_etl_backend_spark"
NON_TEST_ROOTS = [
    PKG,
    ROOT / "scripts",
    ROOT / "otbench",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]

# "<module path under the package>.<name>": why it may stay without a caller.
ALLOWLIST = {
    "engine.quality.with_quality_metrics": (
        "Observation-API row metrics, to be attached to every output write "
        "by run_steps (ROADMAP item 5)"
    ),
    "engine.quality.assert_quality": (
        "the quality gate over with_quality_metrics' observations "
        "(ROADMAP item 5)"
    ),
    "steps.target_annotations.gaf_extract": (
        "reference-parity GAF extraction that target_step does not call yet; "
        "wire-or-delete is open on ROADMAP"
    ),
    "steps.target_annotations.protein_classification_normalize": (
        "reference-parity ChEMBL protein classification that target_step does "
        "not call yet; wire-or-delete is open on ROADMAP"
    ),
}

_WORD = re.compile(r"\w+")


def _non_test_files() -> list[Path]:
    files: list[Path] = []
    for root in NON_TEST_ROOTS:
        if root.is_file():
            files.append(root)
        else:
            files.extend(p for p in sorted(root.rglob("*.py")) if "__pycache__" not in p.parts)
    return files


def _test_only_names() -> set[str]:
    """``module.name`` of every top-level package definition that nothing
    outside the tests references."""
    files = _non_test_files()
    texts = {p: p.read_text() for p in files}
    total = Counter(w for t in texts.values() for w in _WORD.findall(t))

    unused: set[str] = set()
    for path in files:
        if PKG not in path.parents:
            continue
        lines = texts[path].splitlines()
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for node in ast.parse(texts[path], filename=str(path)).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            own = Counter(
                _WORD.findall("\n".join(lines[node.lineno - 1 : node.end_lineno]))
            )
            if total[node.name] == own[node.name]:
                unused.add(f"{module}.{node.name}")
    return unused


def test_no_package_code_only_tests_call():
    unused = _test_only_names()
    offenders = sorted(unused - ALLOWLIST.keys())
    assert not offenders, (
        "package definitions with no caller outside tests/ (delete them, move "
        "test-input builders into the test that uses them, or allowlist with a "
        f"reason): {offenders}"
    )
    # an allowlisted name that gained a caller, or is gone, leaves the list
    stale = sorted(ALLOWLIST.keys() - unused)
    assert not stale, f"allowlist entries that are now called or gone: {stale}"
