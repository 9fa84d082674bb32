"""Source-structure guards for the streaming slice (a plain AST scan,
no Spark): every ``availableNow`` trigger lives in
``streaming/windows.py``, the entry module opens its staged-wave
streams only through ``_wave_stream``, and scratch directories come
only from ``sources.readers.scratch_dir``.  A new drain, wave source
or temp-dir recipe has to go through the shared helper instead of
growing another copy."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "yelp_review_data_analysis_using_big_data_technologies_spark"
ENTRY = "__spark_entry__.py"


def _package_files():
    for dirpath, _, files in os.walk(os.path.join(ROOT, PKG)):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.relpath(os.path.join(dirpath, f), ROOT)


def _sites(paths, match):
    """Sorted ``(path, innermost enclosing function)`` of every AST
    node in ``paths`` that ``match`` accepts."""
    hits = []

    def visit(node, path, fn):
        for child in ast.iter_child_nodes(node):
            if match(child):
                hits.append((path, fn))
            inner = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else fn
            )
            visit(child, path, inner)

    for path in paths:
        with open(os.path.join(ROOT, path)) as f:
            visit(ast.parse(f.read()), path, None)
    return sorted(hits)


def _method_call(node, name):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
    )


def test_available_now_trigger_only_in_windows():
    windows = f"{PKG}/streaming/windows.py"
    sites = _sites(
        _package_files(),
        lambda n: _method_call(n, "trigger")
        and any(k.arg == "availableNow" for k in n.keywords),
    )
    assert sites == [
        (windows, "drain"),
        (windows, "run_available_now"),
        (windows, "stream_to_parquet"),
    ]


def test_entry_opens_wave_streams_only_in_wave_stream():
    sites = _sites(
        [ENTRY],
        lambda n: isinstance(n, ast.Constant) and n.value == "maxFilesPerTrigger",
    )
    assert sites == [(ENTRY, "_wave_stream")]


def test_scratch_dirs_only_from_scratch_dir():
    sites = _sites(
        [ENTRY, *_package_files()], lambda n: _method_call(n, "gettempdir")
    )
    assert sites == [(f"{PKG}/sources/readers.py", "scratch_dir")]
