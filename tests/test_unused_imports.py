"""Unused-import guard (a plain AST scan, no Spark; the repo pins no
linter): every name an ``import`` binds in the package, the entry
module, ``bench.py``, ``scripts/`` or ``tests/`` must be read as a
plain name somewhere in its file.  ``__init__.py`` files are exempt —
their imports are the package's re-exports — and so are
``from __future__`` imports.

Names are matched per file without scoping, so an import shadowed by
a same-named local can slip through; a used import is never flagged."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "yelp_review_data_analysis_using_big_data_technologies_spark"


def _files():
    for top in (PKG, "scripts", "tests"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py") and f != "__init__.py":
                    yield os.path.relpath(os.path.join(dirpath, f), ROOT)
    yield "__spark_entry__.py"
    yield "bench.py"


def _unused(source):
    """Sorted ``(line, name)`` of every imported name ``source`` never
    reads."""
    tree = ast.parse(source)
    bound = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                bound[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                if a.name != "*":
                    bound[a.asname or a.name] = node.lineno
    read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return sorted((line, name) for name, line in bound.items() if name not in read)


def test_scan_flags_an_unused_import():
    src = "import os\nfrom a.b import c as d, e\nprint(e)\n"
    assert _unused(src) == [(1, "os"), (2, "d")]


def test_no_unused_imports():
    found = []
    for path in _files():
        with open(os.path.join(ROOT, path)) as f:
            found += [f"{path}:{line}: {name}" for line, name in _unused(f.read())]
    assert found == [], "unused imports:\n  " + "\n  ".join(found)
