"""Reachability guard (a plain AST scan, no Spark): every module-level
``def`` / ``class`` and every module-level constant (a plain
``NAME = ...`` assignment; dunders like ``__all__`` excepted) in the
package must be reachable from code that is not a test — the entry
module, ``bench.py``, ``scripts/``, ``perfbench/`` or the package's
own module-level statements — through a chain of identifier
references.  Re-exports are not callers: a package ``__init__.py``
that imports a name (and lists it in ``__all__``) does not keep it
alive.
A function or constant only a test reads is dead weight: delete it
with its tests (or move a constant into the test that reads it), or
wire it to an entry.

Reachability is a fixpoint over names: a package definition is live
once a live context mentions its name as an identifier (``Name``,
``Attribute`` or an imported alias), and its body then becomes a live
context itself.  A definition referenced only from other dead
definitions stays dead, and a mention inside a docstring or comment
does not count.  Names are matched without scoping, so the guard can
miss a dead function that shares its name with a live identifier; it
never flags a reachable one.

``ALLOWED`` names the reference implementations a test compares the
engine against, and the reference's own flow no entry can run; each
carries the reason it stays."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "yelp_review_data_analysis_using_big_data_technologies_spark"

#: ``path::name`` → why a definition no entry reaches is kept.
ALLOWED = {
    f"{PKG}/plans/master_table.py::yelp_master_table": (
        "the reference's own Yelp flow (scripts/etl.py), kept as the "
        "reference port: the Yelp data is not in the repo, so no entry "
        "runs it; test_master_table.py checks it on a Yelp-shaped fixture"
    ),
    f"{PKG}/llm/dedup.py::simhash_words": (
        "brute-force oracle: test_llm.py::test_banded_recall_equals_"
        "bruteforce checks simhash_near_dup_pairs against all-pairs "
        "Hamming distance over these hash words"
    ),
}


def _sources():
    """Every non-test Python file: the package, the entry module,
    ``bench.py``, ``scripts/`` and ``perfbench/`` (its tests excluded)."""
    for top in (PKG, "scripts", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(d for d in dirs if d not in ("tests", "__pycache__"))
            for f in sorted(files):
                if f.endswith(".py"):
                    yield os.path.relpath(os.path.join(dirpath, f), ROOT)
    yield "__spark_entry__.py"
    yield "bench.py"


def _identifiers(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def _defined_names(node):
    """Names a module-level statement defines: a ``def``/``class``, or
    the plain-name targets of an assignment (``X = ...``,
    ``X: T = ...``) other than dunders."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign) and node.value is not None:
        targets = [node.target]
    else:
        return []
    names = [t.id for t in targets if isinstance(t, ast.Name)]
    if len(names) != len(targets) or any(n.startswith("__") for n in names):
        return []
    return names


def _read_sources():
    """``path`` → source of every non-test Python file."""
    out = {}
    for path in _sources():
        with open(os.path.join(ROOT, path)) as f:
            out[path] = f.read()
    return out


def _unreachable(files=None):
    """Sorted ``path::name`` of every package definition no chain of
    references from non-test code (``files``: ``path`` → source,
    default the repo's) reaches."""
    defs, live = {}, set()
    for path, src in (files or _read_sources()).items():
        tree = ast.parse(src)
        reexports = os.path.basename(path) == "__init__.py"
        for node in tree.body:
            names = _defined_names(node) if path.startswith(PKG + os.sep) else []
            if reexports and isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if not names:
                live.update(_identifiers(node))
            for name in names:
                refs = set(_identifiers(node)) - {name}
                defs[(path, name)] = defs.get((path, name), set()) | refs
    while True:
        reached = [k for k in defs if k[1] in live]
        if not reached:
            break
        for k in reached:
            live.update(defs.pop(k))
    return sorted(f"{path}::{name}" for path, name in defs)


def test_reexports_are_not_callers():
    planted = {
        f"{PKG}/m/__init__.py": (
            f"from {PKG}.m.core import f, g\n__all__ = ['f', 'g']\n"
        ),
        f"{PKG}/m/core.py": "def f():\n    return 1\ndef g():\n    return 2\n",
        "scripts/cli.py": f"from {PKG}.m import g\ng()\n",
    }
    assert _unreachable(planted) == [f"{PKG}/m/core.py::f"]


def test_every_package_definition_is_reachable():
    dead = [d for d in _unreachable() if d not in ALLOWED]
    assert dead == [], (
        "package definitions only tests reach (delete them with their "
        "tests, or wire them to an entry):\n  " + "\n  ".join(dead)
    )


def test_allowlist_holds_only_unreachable_definitions():
    assert sorted(ALLOWED) == [d for d in _unreachable() if d in ALLOWED]
