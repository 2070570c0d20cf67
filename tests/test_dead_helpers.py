"""Dead-helper lint: every module-level ``_``-prefixed function in
``spark_geo/`` must be named somewhere outside its own definition, in
the package, the tests, the benchmarks or the scripts.  Stdlib ``ast``
only; a name counts when it appears as an identifier, an attribute, an
imported name or an exact string constant (``getattr`` lookups)."""

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _sources():
    files = [*ROOT.glob("spark_geo/**/*.py"), *ROOT.glob("tests/**/*.py"),
             *ROOT.glob("perfbench/**/*.py"), *ROOT.glob("scripts/**/*.py"),
             *ROOT.glob("bench*.py"), ROOT / "__spark_entry__.py"]
    return [f for f in files if f.is_file()]


def _names(node):
    """Every name a subtree refers to."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            yield n.value


def test_no_unreferenced_private_helpers():
    helpers = {}   # (file, name) of each module-level _function
    used = defaultdict(set)  # name -> (file, enclosing top-level def)
    for f in _sources():
        tree = ast.parse(f.read_text(), filename=str(f))
        pkg = f.is_relative_to(ROOT / "spark_geo")
        for top in tree.body:
            is_def = isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
            if pkg and is_def and top.name.startswith("_") \
                    and not top.name.startswith("__"):
                helpers[(f, top.name)] = top.lineno
            for name in _names(top):
                used[name].add((f, top.name if is_def else None))
    dead = sorted(f"{f.relative_to(ROOT)}:{line} {name}"
                  for (f, name), line in helpers.items()
                  if not used[name] - {(f, name)})
    assert not dead, "unreferenced private helpers:\n" + "\n".join(dead)
