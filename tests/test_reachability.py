"""Every library module is reached by a query, a tool or the benchmark.

A static walk over ``import`` statements (module level and inside
functions, relative imports resolved) from the entry points: the query
catalogue ``suite/``, ``__spark_entry__.py``, ``bench.py``, ``tools/*.py``
and ``perfbench/*.py``.  Importing ``a.b.c`` also reaches the packages
``a`` and ``a.b``; ``from a.b import c`` reaches ``a.b.c`` when that is a
module.  ``perfbench/trace.py``'s ``pkgutil`` walk is instrumentation that
wraps whatever exists, so it is not an edge.  No Spark session is started.

Only the import statements are parsed: a line scan finds them (a
parenthesised name list may span lines) and ``ast`` parses each one, which
reads the same imports as parsing every whole file at a tenth of the cost.
"""

from __future__ import annotations

import ast
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "wrf_to_geodataframe_spark"
_IMPORT = re.compile(
    r"^[ \t]*((?:from[ \t]+[\w.]+[ \t]+)?import[ \t]+(?:\([^)]*\)|.*))$", re.M
)


def _library_modules() -> dict[str, str]:
    """Dotted module name -> file path for every module of the package."""
    mods: dict[str, str] = {}
    pattern = os.path.join(REPO, PACKAGE, "**", "*.py")
    for path in glob.glob(pattern, recursive=True):
        rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        mods[".".join(rel)] = path
    return mods


def _imports(path: str, module: str, is_package: bool) -> set[str]:
    """Dotted names imported anywhere in ``path`` (``from x import y``
    yields both ``x`` and ``x.y``)."""
    with open(path, encoding="utf-8") as f:
        source = f.read()
    package = module if is_package else module.rpartition(".")[0]
    names: set[str] = set()
    for match in _IMPORT.finditer(source):
        try:
            body = ast.parse(match.group(1)).body
        except SyntaxError:  # prose in a docstring that starts with "import"
            continue
        for node in body:
            if isinstance(node, ast.Import):
                names.update(a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    base = package.split(".")
                    base = base[: len(base) - (node.level - 1)]
                    if node.module:
                        base.append(node.module)
                    src = ".".join(base)
                else:
                    src = node.module or ""
                names.add(src)
                names.update(f"{src}.{a.name}" for a in node.names)
    return names


def _reached(mods: dict[str, str]) -> set[str]:
    entries = [
        os.path.join(REPO, f) for f in ("__spark_entry__.py", "bench.py")
    ]
    for pattern in ("tools/*.py", "perfbench/*.py"):
        entries += sorted(glob.glob(os.path.join(REPO, pattern)))
    suite = f"{PACKAGE}.suite"
    todo = [m for m in mods if m == suite or m.startswith(suite + ".")]
    for path in entries:
        todo += _imports(path, os.path.basename(path)[: -len(".py")], False)
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        parts = name.split(".")
        for k in range(1, len(parts) + 1):
            mod = ".".join(parts[:k])
            if mod in mods and mod not in seen:
                seen.add(mod)
                path = mods[mod]
                todo += _imports(path, mod, path.endswith("__init__.py"))
    return seen


def test_every_library_module_is_reached():
    mods = _library_modules()
    unreached = sorted(set(mods) - _reached(mods))
    assert not unreached, (
        f"{len(unreached)} library modules are imported by no query, tool "
        "or benchmark:\n" + "\n".join(unreached)
    )

