"""No package function keeps a defaulted parameter that has one value in use.

A parameter whose every call passes the same value, or leaves the default,
is a knob nothing turns: it has to be documented and kept working, yet no
step, query, script, benchmark or test ever sets it to anything else. The
body should use that value directly (a module constant where two functions
must agree on it).

The scan is lexical. Every defaulted parameter of a top-level function or
a class method under the package is matched by name against the calls in
the package, ``scripts/``, ``otbench/``, ``bench.py``,
``__spark_entry__.py`` and ``tests/``; positional arguments are bound to
the signature. A call that omits the argument uses the default. A
parameter is an offender when all its calls together use exactly one
value. A call with ``*args``/``**kwargs`` puts its function out of scope,
and so does a non-literal argument for that parameter, because neither
can be read without running the code. Functions reached only through
``run_step(**params)`` — the step entry points, whose parameters are the
reference config's values — are allowlisted, since no lexical scan sees
those calls.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "platform_etl_backend_spark"
ROOTS = [
    PKG,
    ROOT / "scripts",
    ROOT / "otbench",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    ROOT / "tests",
]

_STEP_CONFIG = "a step entry point; its parameters are reference config values passed by run_step(**params)"

# "<module path under the package>.<function>": why its parameters may stay.
ALLOWLIST = {
    "steps.openfda.openfda_step": _STEP_CONFIG,
    "steps.interaction.interaction_step": _STEP_CONFIG,
    "steps.go.go_step": _STEP_CONFIG,
    "steps.reactome.reactome_step": _STEP_CONFIG,
    "steps.embedding.embedding_step": _STEP_CONFIG,
    "engine.quality.assert_quality": (
        "the quality gate run_steps is to attach to every output write (ROADMAP item 5)"
    ),
}


def _files() -> list[Path]:
    files: list[Path] = []
    for root in ROOTS:
        if root.is_file():
            files.append(root)
        else:
            files.extend(p for p in sorted(root.rglob("*.py")) if "__pycache__" not in p.parts)
    return files


class _Def:
    """A package function's positional parameters (as a call binds them)
    and its defaulted parameters."""

    def __init__(self, key: str, node: ast.FunctionDef, is_method: bool):
        self.key = key
        args = node.args
        positional = args.posonlyargs + args.args
        defaulted = positional[len(positional) - len(args.defaults):]
        self.defaults = {a.arg: d for a, d in zip(defaulted, args.defaults)}
        self.defaults.update(
            {a.arg: d for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None}
        )
        self.positional = [a.arg for a in positional[1 if is_method else 0:]]


def _package_defs() -> dict[str, list[_Def]]:
    """Call name -> definitions: top-level functions by their name, methods
    by theirs, ``__init__`` by its class name."""
    defs: dict[str, list[_Def]] = defaultdict(list)
    for path in _files():
        if PKG not in path.parents:
            continue
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for node in ast.parse(path.read_text(), filename=str(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[node.name].append(_Def(f"{module}.{node.name}", node, False))
            elif isinstance(node, ast.ClassDef):
                for sub in node.body:
                    if not isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        continue
                    static = any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in sub.decorator_list
                    )
                    name = node.name if sub.name == "__init__" else sub.name
                    defs[name].append(_Def(f"{module}.{node.name}.{sub.name}", sub, not static))
    return defs


def _value(node: ast.expr) -> str | None:
    """A literal's type and value, or None for anything that is not one."""
    try:
        v = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return None
    return f"{type(v).__name__}:{v!r}"


def _default_value(node: ast.expr) -> str:
    # a non-literal default (a module constant) is still one value
    return _value(node) or f"expr:{ast.dump(node)}"


def _single_value_params() -> set[str]:
    """``module.function(param)`` of every in-scope defaulted parameter
    that all calls together use with exactly one value."""
    defs = _package_defs()
    used: dict[str, dict[str, set[str | None]]] = defaultdict(lambda: defaultdict(set))
    out_of_scope: set[str] = set()
    for path in _files():
        for call in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            for d in defs.get(name, ()):
                if any(isinstance(a, ast.Starred) for a in call.args) or any(
                    k.arg is None for k in call.keywords
                ):
                    out_of_scope.add(d.key)
                    continue
                given = dict(zip(d.positional, call.args))
                given.update({k.arg: k.value for k in call.keywords})
                for param, default in d.defaults.items():
                    used[d.key][param].add(
                        _value(given[param]) if param in given else _default_value(default)
                    )
    offenders = set()
    for ds in defs.values():
        for d in ds:
            if d.key in out_of_scope:
                continue
            for param, default in d.defaults.items():
                values = used[d.key].get(param) or {_default_value(default)}
                if len(values) == 1 and None not in values:
                    offenders.add(f"{d.key}({param})")
    return offenders


def test_no_single_value_parameters():
    found = _single_value_params()
    offenders = sorted(o for o in found if o.split("(")[0] not in ALLOWLIST)
    assert not offenders, (
        f"{len(offenders)} defaulted parameters have one value in use; make the "
        f"body use that value (a module constant where two functions must "
        f"agree), or allowlist the function with a reason: {offenders}"
    )
    # an allowlisted function whose parameters all vary now, or that is
    # gone, leaves the list
    stale = sorted(ALLOWLIST.keys() - {o.split("(")[0] for o in found})
    assert not stale, f"allowlist entries with no single-value parameter left: {stale}"
