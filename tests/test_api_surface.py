"""Every option has a caller, machine-checked without Spark.

A parameter with a default on a module-level public function of
`logpipe/` is a knob. A knob that no call in the checkout ever sets is
a configuration nothing runs: its one value belongs in the body (or in
a named module constant). The audit parses `logpipe/`, the bench
harnesses, `scripts/`, `perfbench/` and `tests/` with `ast` and asks,
for each defaulted parameter, whether some call to a function of that
name passes it by keyword, by position, or through `*args`/`**kwargs`.
A call through a `from ... import name as alias` alias is a call to
`name`.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
CALLER_ROOTS = ("logpipe", "bench.py", "bench_scaling.py", "scripts", "perfbench", "tests")


def _py_files(rel):
    path = ROOT / rel
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _defaulted_params(fn):
    """(name, positional index or None) for each parameter with a default."""
    a = fn.args
    positional = a.posonlyargs + a.args
    out = [
        (arg.arg, i)
        for i, arg in enumerate(positional)
        if i >= len(positional) - len(a.defaults)
    ]
    out += [(arg.arg, None) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _public_defaulted():
    """{(module, function): [(param, index)]} over `logpipe/`'s
    module-level public functions."""
    found = {}
    for path in _py_files("logpipe"):
        tree = ast.parse(path.read_text(), str(path))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not node.name.startswith("_"):
                params = _defaulted_params(node)
                if params:
                    found[(str(path.relative_to(ROOT)), node.name)] = params
    return found


def _calls_by_name():
    """{callee name: [ast.Call]} over every caller root."""
    calls = {}
    for rel in CALLER_ROOTS:
        for path in _py_files(rel):
            tree = ast.parse(path.read_text(), str(path))
            aliases = {
                a.asname: a.name
                for node in ast.walk(tree)
                if isinstance(node, ast.ImportFrom)
                for a in node.names
                if a.asname
            }
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                name = aliases.get(name, name)
                if name:
                    calls.setdefault(name, []).append(node)
    return calls


def _passes(call, param, index):
    if any(kw.arg is None or kw.arg == param for kw in call.keywords):
        return True
    if index is None:
        return False
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return len(call.args) > index


def unset_parameters():
    calls = _calls_by_name()
    return sorted(
        f"{mod}::{fn}({param}=)"
        for (mod, fn), params in _public_defaulted().items()
        for param, index in params
        if not any(_passes(c, param, index) for c in calls.get(fn, ()))
    )


def test_every_defaulted_public_parameter_has_a_caller():
    assert unset_parameters() == []


if __name__ == "__main__":
    total = sum(len(p) for p in _public_defaulted().values())
    unset = unset_parameters()
    print(f"{total} defaulted public parameters, {len(unset)} never passed")
    print("\n".join(unset))
