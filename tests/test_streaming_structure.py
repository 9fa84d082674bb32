"""Source-structure guards for the streaming slice (a plain AST scan,
no Spark): every ``availableNow`` trigger lives in
``streaming/windows.py``, the entry module opens its staged-wave
streams only through ``_wave_stream``, scratch directories come
only from ``sources.readers.scratch_dir``, and input tables under
``sf_dir`` are batch-read only in ``sources/readers.py`` (through its
schema memo).  A new drain, wave source, temp-dir recipe or table
scan has to go through the shared helper instead of growing another
copy.  The same holds for a persisted vector index's frozen state:
only ``llm.vectors.read_index_params`` reads it back from disk, and
callers hand it around as one ``IndexParams`` value."""

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


def _batch_parquet_read(node):
    """``spark.read….parquet(…)``: a ``parquet`` call whose receiver
    chain passes through ``.read`` (``readStream`` does not count)."""
    if not _method_call(node, "parquet"):
        return False
    recv = node.func.value
    while isinstance(recv, (ast.Call, ast.Attribute)):
        if isinstance(recv, ast.Attribute) and recv.attr == "read":
            return True
        recv = recv.func if isinstance(recv, ast.Call) else recv.value
    return False


def _mentions(expr, names):
    """Whether ``expr`` reads any of ``names`` (a ``scratch_dir(…)``
    result is a temp dir, not an input, whatever it is given)."""
    if isinstance(expr, ast.Call) and getattr(expr.func, "id", None) == "scratch_dir":
        return False
    if isinstance(expr, ast.Name) and expr.id in names:
        return True
    return any(_mentions(c, names) for c in ast.iter_child_nodes(expr))


def _sf_dir_names(fn):
    """``sf_dir`` plus every name ``fn`` assigns from an expression
    that mentions one of them, in source order."""
    names = {"sf_dir"}
    assigns = sorted(
        (n for n in ast.walk(fn) if isinstance(n, ast.Assign)),
        key=lambda n: (n.lineno, n.col_offset),
    )
    for a in assigns:
        if _mentions(a.value, names):
            names |= {t.id for t in a.targets if isinstance(t, ast.Name)}
    return names


def test_input_tables_read_only_through_readers():
    readers = f"{PKG}/sources/readers.py"
    hits = []
    for path in [ENTRY, *_package_files()]:
        if path == readers:
            continue
        with open(os.path.join(ROOT, path)) as f:
            tree = ast.parse(f.read())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            names = _sf_dir_names(fn)
            hits += [
                (path, fn.name)
                for node in ast.walk(fn)
                if _batch_parquet_read(node)
                and any(_mentions(arg, names) for arg in node.args)
            ]
    assert hits == []


def _names_text(expr, words):
    """Whether a string literal (or f-string part) in ``expr`` contains
    any of ``words``."""
    return any(
        isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and any(w in n.value for w in words)
        for n in ast.walk(expr)
    )


def test_index_frozen_state_read_only_in_read_index_params():
    vectors = f"{PKG}/llm/vectors.py"
    sites = _sites(
        [ENTRY, *_package_files()],
        lambda n: _batch_parquet_read(n)
        and any(_names_text(a, ("centroids", "codebooks")) for a in n.args),
    )
    assert sites == [
        (vectors, "read_index_params"),
        (vectors, "read_index_params"),
    ]


def test_no_call_passes_frozen_state_piecewise():
    tests = os.path.relpath(os.path.dirname(os.path.abspath(__file__)), ROOT)
    paths = [
        ENTRY,
        "bench.py",
        *_package_files(),
        *(
            os.path.join(d, f)
            for d in (tests, "scripts")
            for f in sorted(os.listdir(os.path.join(ROOT, d)))
            if f.endswith(".py")
        ),
    ]
    sites = _sites(
        paths,
        lambda n: isinstance(n, ast.keyword)
        and n.arg in ("cent_rows", "by_sub", "stored_meta"),
    )
    assert sites == []
