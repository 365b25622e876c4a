"""No block of package code repeats an earlier copy of itself.

A block written out twice has to be kept in step twice: a fix to one copy
misses the other, and a query and its neighbour that should compute the
same frame drift apart. One definition (a helper in the module that owns
the family, or a SQL constant the oracles compose) and a call at each
former copy keeps them equal by construction.

The scan is textual. Every ``.py`` file under the package is read in path
order, and each line is normalized: stripped, runs of whitespace collapsed
to one space. Blank lines and comment-only lines are dropped; strings,
docstrings and oracle SQL are kept. A window of 8 consecutive normalized
lines whose total length is at least 96 characters is a repeat when the
same window occurred earlier in the scan (in the same file or an earlier
one); every line of a repeated window is a repeated line. The length floor
keeps short boilerplate (closing brackets, one-word arguments) out.

A repeated line is charged to the innermost top-level ``def`` or ``class``
that contains it (``<module>`` outside any), and the allowlist names such
definitions, each with the reason its copy stays.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "platform_etl_backend_spark"
WINDOW = 8
MIN_CHARS = 96

_PUBLIC_ASOF = (
    "public operator whose signature repeats asof_join_backward's; catalog "
    "queries and tests call the three as-of joins by name and keywords"
)

# "<file under the package>::<top-level definition>": why its copy stays.
ALLOWLIST = {
    "operators/asof.py::asof_join_forward": _PUBLIC_ASOF,
    "operators/asof.py::asof_join_nearest": _PUBLIC_ASOF,
}


def _normalized(text: str) -> list[tuple[int, str]]:
    """(line number, normalized text) of every line that is not blank or a
    comment."""
    out = []
    for number, raw in enumerate(text.splitlines(), 1):
        line = " ".join(raw.split())
        if line and not line.startswith("#"):
            out.append((number, line))
    return out


def _owner(tree: ast.Module):
    """Line number -> name of the top-level definition containing it."""
    spans = [
        (node.lineno, node.end_lineno, node.name)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]

    def owner(line: int) -> str:
        for start, end, name in spans:
            if start <= line <= end:
                return name
        return "<module>"

    return owner


def _repeated_lines() -> dict[str, set[int]]:
    """"<file>::<definition>" -> line numbers that repeat an earlier window."""
    seen: set[tuple[str, ...]] = set()
    repeated: dict[str, set[int]] = defaultdict(set)
    for path in sorted(p for p in PKG.rglob("*.py") if "__pycache__" not in p.parts):
        text = path.read_text()
        lines = _normalized(text)
        owner = _owner(ast.parse(text))
        rel = path.relative_to(PKG).as_posix()
        for k in range(len(lines) - WINDOW + 1):
            window = tuple(line for _, line in lines[k:k + WINDOW])
            if sum(map(len, window)) < MIN_CHARS:
                continue
            if window not in seen:
                seen.add(window)
                continue
            for number, _ in lines[k:k + WINDOW]:
                repeated[f"{rel}::{owner(number)}"].add(number)
    return repeated


def test_no_repeated_code():
    repeated = _repeated_lines()
    total = sum(map(len, repeated.values()))
    offenders = {k: v for k, v in repeated.items() if k not in ALLOWLIST}
    count = sum(map(len, offenders.values()))
    assert not offenders, (
        f"{total} repeated lines ({count} outside the allowlist); give each "
        "repeated block one definition and call it from every copy, or "
        "allowlist the definition with a reason: "
        + ", ".join(
            f"{k} (lines {min(v)}-{max(v)}, {len(v)})" for k, v in sorted(offenders.items())
        )
    )
    # an allowlisted definition that no longer repeats anything, or is
    # gone, leaves the list
    stale = sorted(ALLOWLIST.keys() - repeated.keys())
    assert not stale, f"allowlist entries with no repeated lines left: {stale}"
