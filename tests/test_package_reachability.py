"""Every package module must be reachable from the product: the jobs,
the benchmark (perfbench) or the query entry module (__spark_entry__.py).

A pure-``ast`` walk of import statements (module-level and
function-local, absolute and relative) from those roots; a module no
root reaches is dead weight and should be deleted with its tests.

Inside a reached module, every top-level function and class must be
named somewhere in the repo's Python; one that nothing names has no
caller and should be deleted too."""

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


def _named(path: str) -> set[str]:
    """Identifiers ``path`` names: Name and Attribute nodes, import
    names and aliases, and string constants that are identifiers
    (``getattr`` targets, ``__all__``, monkeypatch targets)."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.update(node.name.split("."))
            if node.asname:
                out.add(node.asname)
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier()):
            out.add(node.value)
    return out


def test_every_package_function_is_named():
    files = [os.path.join(REPO, "__spark_entry__.py")]
    for d in (PKG, "jobs", "perfbench", "tests"):
        files += glob.glob(os.path.join(REPO, d, "**", "*.py"),
                           recursive=True)
    named = set().union(*map(_named, files))
    unnamed = []
    for path in sorted(_package_modules().values()):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        unnamed += [f"{os.path.relpath(path, REPO)}::{node.name}"
                    for node in tree.body
                    if isinstance(node, (ast.FunctionDef,
                                         ast.AsyncFunctionDef,
                                         ast.ClassDef))
                    and node.name not in named]
    assert not unnamed, (
        f"{len(unnamed)} package functions or classes named nowhere in "
        f"the repo: {unnamed}")
