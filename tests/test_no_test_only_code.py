"""Every top-level function and class in the package has a caller outside
the tests.

A definition that only tests call is code the engine ships but never runs:
it has to be kept working, yet no pipeline step, catalog query, script or
benchmark depends on it. The scan is lexical: each non-test ``.py`` file
(the package, ``scripts/``, ``otbench/``, ``bench.py``,
``__spark_entry__.py``) is tokenized, and a name counts as referenced when
it appears as a whole word in code or in a string. Prose does not count:
comments, docstrings (any bare string statement) and ``description=``
keyword strings are skipped, so a sentence that names a function does not
keep it alive. Other strings do count, because registration by string (a
catalog query listed by name, otbench's query mix) is a real reference.
Re-exports do not count either: in an ``__init__.py``, the import
statements and the ``__all__`` list only republish a name, so a function
that only tests import through its package is still test-only. In the
defining file, the tokens inside the definition itself do not count, so a
recursive call is not a caller.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
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
    "operators.stats.summary_statistics": (
        "the reference's window formulation (PrepareSummaryStatistics.scala:"
        "38-46) that contingency_via_groupby is checked against"
    ),
    "operators.stats.llr_contingency": (
        "window-form contingency that test_window_and_groupby_contingency_agree "
        "compares contingency_via_groupby against"
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


def _is_str(node: ast.expr) -> bool:
    return isinstance(node, ast.JoinedStr) or (
        isinstance(node, ast.Constant) and isinstance(node.value, str)
    )


def _is_reexport(node: ast.AST) -> bool:
    """An import statement or an ``__all__`` assignment."""
    if isinstance(node, (ast.Import, ast.ImportFrom)):
        return True
    return isinstance(node, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
    )


def _skipped_spans(
    tree: ast.AST, is_init: bool
) -> list[tuple[tuple[int, int], tuple[int, int]]]:
    """(start, end) positions of what is not a caller: prose strings (bare
    string statements such as docstrings, and ``description=`` values) and,
    in an ``__init__.py``, the re-export statements."""
    spans = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Expr) and _is_str(node.value):
            skip = node.value
        elif isinstance(node, ast.keyword) and node.arg == "description":
            skip = node.value
        elif is_init and _is_reexport(node):
            skip = node
        else:
            continue
        spans.append(((skip.lineno, skip.col_offset), (skip.end_lineno, skip.end_col_offset)))
    return spans


# an f-string's literal text is one STRING token up to Python 3.11 and
# FSTRING_MIDDLE tokens from 3.12 on
_STRING_TOKENS = {tokenize.STRING, getattr(tokenize, "FSTRING_MIDDLE", tokenize.STRING)}


def _code_words(text: str, is_init: bool = False) -> list[tuple[int, str]]:
    """(line, word) for every name token and every word inside a non-prose
    string; comments, prose strings and ``__init__.py`` re-exports are
    dropped."""
    spans = _skipped_spans(ast.parse(text), is_init)
    words: list[tuple[int, str]] = []
    for tok in tokenize.generate_tokens(io.StringIO(text).readline):
        if any(a <= tok.start < b for a, b in spans):
            continue
        if tok.type == tokenize.NAME:
            words.append((tok.start[0], tok.string))
        elif tok.type in _STRING_TOKENS:
            words.extend((tok.start[0], w) for w in _WORD.findall(tok.string))
    return words


def _test_only_names() -> set[str]:
    """``module.name`` of every top-level package definition that nothing
    outside the tests references."""
    files = _non_test_files()
    texts = {p: p.read_text() for p in files}
    words = {p: _code_words(t, p.name == "__init__.py") for p, t in texts.items()}
    total = Counter(w for ws in words.values() for _, w in ws)

    unused: set[str] = set()
    for path in files:
        if PKG not in path.parents:
            continue
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for node in ast.parse(texts[path], filename=str(path)).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            own = sum(
                1 for line, w in words[path]
                if w == node.name and node.lineno <= line <= node.end_lineno
            )
            if total[node.name] == own:
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
