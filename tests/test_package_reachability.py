"""Every package module must be reachable from the product: the jobs,
the benchmark (perfbench) or the query entry module (__spark_entry__.py).

A pure-``ast`` walk of import statements (module-level and
function-local, absolute and relative) from those roots; a module no
root reaches is dead weight and should be deleted with its tests."""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ocr_pytorch_spark"


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file path for every .py under the package."""
    mods = {}
    for path in glob.glob(os.path.join(REPO, PKG, "**", "*.py"),
                          recursive=True):
        rel = os.path.relpath(path, REPO)[:-3].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        mods[".".join(rel)] = path
    return mods


def _imported(path: str, name: str | None, mods: dict) -> set[str]:
    """Package modules an import in ``path`` (module ``name``, None for a
    root outside the package) loads, parent packages included."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    is_pkg = path.endswith("__init__.py")
    targets = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = name.split(".") if name else []
                if not is_pkg:
                    parts = parts[:-1]
                parts = parts[:len(parts) - (node.level - 1)]
                base = ".".join(parts + ([node.module] if node.module
                                         else []))
            else:
                base = node.module
            targets.add(base)
            targets.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for t in targets:
        parts = t.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in mods:
                out.add(prefix)
    return out


def _reachable(mods: dict) -> set[str]:
    roots = (glob.glob(os.path.join(REPO, "jobs", "*.py"))
             + glob.glob(os.path.join(REPO, "perfbench", "*.py"))
             + [os.path.join(REPO, "__spark_entry__.py")])
    seen = set()
    todo = set()
    for path in roots:
        todo |= _imported(path, None, mods)
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo |= _imported(mods[mod], mod, mods) - seen
    return seen


def test_every_package_module_is_reached():
    mods = _package_modules()
    unreached = sorted(set(mods) - _reachable(mods))
    assert not unreached, (
        f"{len(unreached)} package modules reached by no job, perfbench "
        f"module or __spark_entry__.py: {unreached}")
