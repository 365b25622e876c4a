"""Every top-level function and class in the package has a caller outside
the tests.

A definition that only tests call is code the engine ships but never runs:
it has to be kept working, yet no pipeline step, catalog query, script or
benchmark depends on it. The scan reads the syntax tree of each non-test
``.py`` file (the package, ``scripts/``, ``otbench/``, ``bench.py``,
``__spark_entry__.py``) and counts a name as a caller only when it
resolves to the module that defines it: used in that module itself, bound
by ``from module import name``, reached as an attribute of an imported
module (``import module as M`` then ``M.name``), or imported through a
package ``__init__`` that re-exports it from the defining module. A
definition of the same name in another module is a different definition,
so its uses do not count. Strings never count, prose or not: a name that
appears in an error message or a docstring is not called by it. A
function decorated with ``register`` (a catalog query) is registered and
counts as used. An ``__init__.py``'s import statements and ``__all__``
only republish a name, so a function that only tests import through its
package is still test-only. In the defining file, uses inside the
definition itself do not count, so a recursive call is not a caller.
"""

from __future__ import annotations

import ast
from collections import defaultdict
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

PKG_NAME = PKG.name


def _non_test_files() -> list[Path]:
    files: list[Path] = []
    for root in NON_TEST_ROOTS:
        if root.is_file():
            files.append(root)
        else:
            files.extend(p for p in sorted(root.rglob("*.py")) if "__pycache__" not in p.parts)
    return files


def _module_name(path: Path) -> str:
    """Dotted module name (a package's ``__init__.py`` is the package)."""
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


class _Module:
    """One file: its tree, its import bindings and its top-level definitions."""

    def __init__(self, path: Path, modules: set[str]):
        self.path = path
        self.name = _module_name(path)
        self.is_init = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(), filename=str(path))
        self.defs = {
            node.name: node
            for node in self.tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        # local name -> ("mod", module) or ("obj", module, attribute)
        self.bindings: dict[str, tuple] = {}
        package = self.name if self.is_init else self.name.rpartition(".")[0]
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.asname:
                        self.bindings[alias.asname] = ("mod", alias.name)
                    else:
                        root = alias.name.split(".")[0]
                        self.bindings[root] = ("mod", root)
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    anchor = package.split(".")
                    anchor = anchor[: len(anchor) - node.level + 1]
                    base = ".".join(anchor + ([base] if base else []))
                for alias in node.names:
                    full = f"{base}.{alias.name}"
                    self.bindings[alias.asname or alias.name] = (
                        ("mod", full) if full in modules else ("obj", base, alias.name)
                    )


def _resolve(modules: dict[str, _Module], module: str, name: str) -> tuple[str, str] | None:
    """(defining module, name) for ``module.name``, following package
    re-exports; None when it is not a package definition."""
    for _ in range(10):
        m = modules.get(module)
        if m is None:
            return None
        if name in m.defs:
            return module, name
        target = m.bindings.get(name)
        if target is None or target[0] != "obj":
            return None
        module, name = target[1], target[2]
    return None


def _registered(node: ast.AST) -> bool:
    """A definition decorated with ``register(...)`` or ``register``."""
    for dec in getattr(node, "decorator_list", ()):
        f = dec.func if isinstance(dec, ast.Call) else dec
        if (isinstance(f, ast.Name) and f.id == "register") or (
            isinstance(f, ast.Attribute) and f.attr == "register"
        ):
            return True
    return False


def _references(modules: dict[str, _Module], m: _Module):
    """Yield ((defining module, name), line) for every use in ``m`` of a
    package definition."""
    for node in ast.walk(m.tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            target = m.bindings.get(node.id)
            if target is not None and target[0] == "obj":
                ref = _resolve(modules, target[1], target[2])
            elif node.id in m.defs:
                ref = (m.name, node.id)
            else:
                continue
            if ref is not None:
                yield ref, node.lineno
        elif isinstance(node, ast.Attribute):
            chain = [node.attr]
            base = node.value
            while isinstance(base, ast.Attribute):
                chain.append(base.attr)
                base = base.value
            if not isinstance(base, ast.Name):
                continue
            target = m.bindings.get(base.id)
            if target is None or target[0] != "mod":
                continue
            module = target[1]
            chain.reverse()
            # walk submodules (``a.b`` then ``a.b.c``) to the attribute
            while len(chain) > 1 and f"{module}.{chain[0]}" in modules:
                module = f"{module}.{chain.pop(0)}"
            ref = _resolve(modules, module, chain[0])
            if ref is not None:
                yield ref, node.lineno


def _test_only_names() -> set[str]:
    """``module.name`` of every top-level package definition that nothing
    outside the tests references."""
    files = _non_test_files()
    names = {_module_name(p) for p in files}
    modules = {m.name: m for m in (_Module(p, names) for p in files)}
    used: dict[tuple[str, str], bool] = defaultdict(bool)
    for m in modules.values():
        for (module, name), line in _references(modules, m):
            node = modules[module].defs[name]
            if module == m.name and node.lineno <= line <= node.end_lineno:
                continue  # a definition's use of itself
            used[module, name] = True

    unused: set[str] = set()
    for m in modules.values():
        if not m.name.startswith(PKG_NAME + "."):
            continue
        for name, node in m.defs.items():
            if not used[m.name, name] and not _registered(node):
                unused.add(f"{m.name[len(PKG_NAME) + 1:]}.{name}")
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
