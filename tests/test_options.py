"""Option guard (a plain AST scan, no Spark): one value in use is a
constant.  The scan counts the VALUES each parameter of a module-level
function in the package or the entry module takes across the calls
outside the tests — the package, the entry module, ``bench.py``,
``scripts/`` or ``perfbench/`` — and fails on a parameter with exactly
one value in use: drop it and inline the value, or keep one module
constant shared with the DuckDB twin.  Tests are not callers: a value
only a test passes is a knob kept for the test, so a test reaches the
behaviour through its fixture instead.

Each call contributes the value it passes, keyed so that a literal
and a module constant assigned that literal count as one value.  An
omitted argument counts as the parameter's default; a function with
no visible call therefore uses its defaults alone.  A ``*args`` /
``**kwargs`` spread, an expression that is not a literal or module
constant, and any call whose target the scan cannot name count as
"unknown", which is never one value.  A call passes a parameter
through a keyword, a positional, a spread or a ``functools.partial``.
Call targets are matched by name (import aliases resolved, without
scoping), so a call to one public function counts for every package
function of that name; a private (``_``-prefixed) function is reached
only from its own module or through an import of that module.  A call
whose target the scan cannot name — a local, a subscript or a call
result, such as ``queries()[name](spark, data)`` or
``_stream_monitor``'s ``monitor`` — counts its keywords and
positionals as unknown for every package function the repo passes as
a value, and the required parameters of such a function are skipped:
its calls are not all visible.  Keywords a call passes into a
function's ``**kwargs`` (a test helper's ``**kw``, say) reach the
unnamed calls in its body that spread them on.  These rules can only
hide a parameter with one value in use.

``ALLOWED`` names the parameters kept settable anyway; each carries
the reason.  Two narrower checks name the commonest cases with their
own message: a defaulted parameter no call sets, and a parameter of a
private helper every call passes the same value.

A second scan covers the converse: no call outside the tests passes a
package function its own default — a literal equal to it, or the very
expression the default is written as.  The value would be written
twice, and a changed default would silently stop reaching that call.
A different name that happens to hold the same value is left alone:
a module constant shared with a DuckDB twin is how a call pins its
dial.  A third fails on a call that passes a keyword, or more
positional arguments, than any package function of that name
accepts: a folded parameter a call still sets, which the other scans
cannot see and which fails only when that call runs."""

import ast
import builtins
import itertools
import os

from test_reachability import PKG
from test_reachability import _read_sources as _files

#: ``path::func.param`` → why a parameter with one value in use stays.
ALLOWED = {
    f"{PKG}/session.py::get_spark.master": (
        "deployment setting: on a cluster the master comes from the "
        "submitting environment, not from code in this repo"
    ),
    f"{PKG}/sources/catalog.py::save_managed_table.table": (
        "storage name: the catalog table a deployment writes is a "
        "deployment setting, like a path"
    ),
    f"{PKG}/sources/catalog.py::create_view.view": (
        "storage name: the catalog view a deployment defines is a "
        "deployment setting, like a path"
    ),
    f"{PKG}/functions/udafs.py::median_abs_deviation.v": (
        "the pandas UDF's input Series: Spark binds the column the "
        "call names to it, and a UDF has no other way to take its input"
    ),
    f"{PKG}/llm/staging.py::release_staging.blocking": (
        "perfbench/run.py calls release_staging(blocking=True); the "
        "benchmark is frozen, so its call must keep working"
    ),
    f"{PKG}/llm/vectors.py::build_ivfpq_index.codebooks": (
        "fixed state only a test can inject: the merge, erase and "
        "streaming-ingest tests compare an incrementally maintained PQ "
        "index with a rebuild under the SAME frozen codebooks, and the "
        "Lloyd fit depends on its training sample, so no "
        "seeded rebuild over a different corpus reproduces them"
    ),
    # ``path path::func.param``: a file whose calls may pass that
    # parameter its default
    f"perfbench/run.py {PKG}/llm/staging.py::release_staging.blocking": (
        "the frozen benchmark passes release_staging its default "
        "explicitly; its files change only with the benchmark"
    ),
}


def _defines_options(path):
    return path.startswith(PKG + os.sep) or path == "__spark_entry__.py"


def _is_test(path):
    return path.startswith("tests" + os.sep) or os.sep + "tests" + os.sep in path


def _literal(node):
    """``(type, value)`` of a literal expression, else ``None``."""
    try:
        value = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return None
    return type(value), value


def _constants(trees):
    """Key function for the values calls pass: a literal, or a module
    constant (an upper-case name some file assigns at module level),
    maps to one key — a constant whose every assignment is the same
    literal shares that literal's key; anything else maps to ``None``."""
    assigned = {}
    for tree in trees:
        for node in tree.body:
            targets = node.targets if isinstance(node, ast.Assign) else [getattr(node, "target", None)]
            for t in targets:
                if isinstance(t, ast.Name) and t.id.upper() == t.id and t.id.strip("_"):
                    lit = _literal(node.value) if node.value is not None else None
                    assigned.setdefault(t.id, set()).add(repr(lit) if lit else t.id)

    def key(node):
        if node is None:
            return None
        lit = _literal(node)
        if lit is not None:
            return repr(lit)
        name = node.id if isinstance(node, ast.Name) else getattr(node, "attr", None)
        if name in assigned:
            values = assigned[name]
            return next(iter(values)) if len(values) == 1 else name
        return None

    return key


class _Function:
    def __init__(self, path, node):
        self.key, self.node = f"{path}::{node.name}", node
        self.path, self.module = path, path[:-3].replace(os.sep, ".")
        a = node.args
        self.positional = [p.arg for p in a.posonlyargs + a.args]
        pos_defaults = dict(zip(self.positional[len(self.positional) - len(a.defaults):], a.defaults))
        kw_defaults = {p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}
        self.defaults = {**pos_defaults, **kw_defaults}
        self.params = self.positional + [p.arg for p in a.kwonlyargs]
        self.kwargs = a.kwarg is not None
        #: param → the key of each value a call passes (``None``: a
        #: value that is not a constant, or unknown)
        self.values = {p: set() for p in self.params}
        #: ``path:line path::func.param`` of each call passing a default
        self.redundant = []

    def accepts(self, keyword):
        return self.kwargs or keyword in self.params

    def _is_default(self, param, value):
        """Whether ``value`` is the parameter's own default: a literal
        equal to it, or the very expression it is written as."""
        default = self.defaults.get(param)
        if default is None:
            return False
        lit = _literal(value)
        return lit == _literal(default) if lit is not None else ast.dump(value) == ast.dump(default)

    def call(self, args, keywords, key=None, where=None):
        """Record a call.  ``key`` (see :func:`_constants`) maps each
        value the call passes to its key; ``None``: a call through an
        unnamed target, whose values are unknown.  An omitted argument
        is the parameter's default; a spread makes every parameter it
        may fill unknown.  ``where`` (``path:line``) records each
        default the call passes back."""
        given, spread = {}, False
        for i, arg in enumerate(args):
            if isinstance(arg, ast.Starred):
                given.update(dict.fromkeys(self.positional[i:]))
                break
            if i < len(self.positional):
                given[self.positional[i]] = arg
        for kw in keywords:
            if kw.arg is None:
                spread = True
            else:
                given[kw.arg] = kw.value
        for p in self.params:
            value = given.get(p)
            if value is not None and self._is_default(p, value):
                if where is not None:
                    self.redundant.append(f"{where} {self.key}.{p}")
                value = None
            elif value is not None or p in given or spread:
                self.values[p].add(key(value) if key and value is not None else None)
                continue
            self.values[p].add(self.default_keys.get(p))


def _is_package_module(module, level):
    return level > 0 or (module or "").split(".")[0] in (PKG, "__spark_entry__")


class _File:
    """Call-target resolution within one file: import aliases,
    ``functools.partial`` and the file's own definitions."""

    def __init__(self, path, tree, funcs):
        self.tree, self.funcs = tree, funcs
        package = path[:-3].split(os.sep)[:-1]
        self.aliases, self.external, self.partials = {}, set(), set()
        self.origin = {}  # local name → dotted module it was imported from
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                for a in node.names:
                    local = a.asname or a.name
                    if _is_package_module(node.module, node.level):
                        self.aliases[local] = a.name
                        base = package[: len(package) - node.level + 1] if node.level else []
                        self.origin[local] = ".".join(base + ([node.module] if node.module else []))
                    elif node.module == "functools" and a.name == "partial":
                        self.partials.add(local)
                    else:
                        self.external.add(local)
            elif isinstance(node, ast.Import):
                self.external.update(a.asname or a.name.split(".")[0] for a in node.names)
        self.defs = {
            n.name: n
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        self.local = set(self.defs) | {
            t.id
            for node in tree.body
            for t in (node.targets if isinstance(node, ast.Assign) else [])
            if isinstance(t, ast.Name)
        }

    def name_of(self, func):
        if isinstance(func, ast.Name):
            return self.aliases.get(func.id, func.id)
        if isinstance(func, ast.Attribute):
            return func.attr
        return None

    def reaches(self, path, func, f):
        """Whether a call of ``func`` in this file (``path``) is a call
        of package function ``f`` for the required-parameter scan: a
        private function is reached from its own module or through an
        import of its module, a public one by name."""
        if not f.node.name.startswith("_"):
            return True
        module = self._module_of(func)
        return module == f.module or (module is None and f.path == path)

    def _module_of(self, func):
        """Dotted module a call target was imported from, else ``None``."""
        if isinstance(func, ast.Name) and func.id in self.origin:
            return self.origin[func.id]
        if isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
            v = func.value.id
            if v in self.origin:
                return f"{self.origin[v]}.{self.aliases[v]}"
        return None

    def resolve(self, call):
        """``(kind, target, args, func)`` for ``call``: kind ``"package"``
        (target: the package functions of that name), ``"local"`` (a
        definition in this file), ``"unnamed"`` (a local value, a
        subscript, a call result) or ``None`` (a method, a builtin or a
        non-package function); ``func`` is the called expression, the
        partial's first argument for a ``functools.partial``."""
        func, args = call.func, call.args
        if args and (
            (isinstance(func, ast.Name) and func.id in self.partials)
            or (
                isinstance(func, ast.Attribute)
                and func.attr == "partial"
                and isinstance(func.value, ast.Name)
                and func.value.id == "functools"
            )
        ):
            func, args = args[0], args[1:]
        name = self.name_of(func)
        if name in self.funcs and not (isinstance(func, ast.Name) and func.id in self.external):
            return "package", self.funcs[name], args, func
        if isinstance(func, ast.Attribute):
            return None, None, args, func
        if isinstance(func, ast.Name):
            if func.id in self.defs:
                return "local", self.defs[func.id], args, func
            if func.id in self.external or func.id in self.local or hasattr(builtins, func.id):
                return None, None, args, func
        return "unnamed", None, args, func


def _scan(files):
    """Record every call in ``files`` (``path`` → source) on the
    module-level package and entry functions it reaches.  Returns
    ``(funcs, as_values, unknown)``: name → its ``_Function`` records,
    the names some file passes as a value (whose calls the scan cannot
    see), and ``path:line func(keyword=)`` / ``path:line func(n
    positionals)`` of each call passing a keyword, or more positional
    arguments, than any package function of that name accepts."""
    trees = {path: ast.parse(src) for path, src in files.items() if not _is_test(path)}
    funcs = {}
    for path, tree in trees.items():
        if _defines_options(path):
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    funcs.setdefault(node.name, []).append(_Function(path, node))
    ctx = {path: _File(path, tree, funcs) for path, tree in trees.items()}
    key = _constants(trees.values())
    for fs in funcs.values():
        for f in fs:
            f.default_keys = {p: key(d) or ast.dump(d) for p, d in f.defaults.items()}

    # where each definition's ``**kwargs`` goes: the calls in its body
    # that spread it on
    spreads = {}
    for c in ctx.values():
        for fdef in ast.walk(c.tree):
            if isinstance(fdef, (ast.FunctionDef, ast.AsyncFunctionDef)) and fdef.args.kwarg:
                kw = fdef.args.kwarg.arg
                spreads[id(fdef)] = [
                    c.resolve(n)[:2]
                    for n in ast.walk(fdef)
                    if isinstance(n, ast.Call)
                    and any(
                        k.arg is None and isinstance(k.value, ast.Name) and k.value.id == kw
                        for k in n.keywords
                    )
                ]

    unnamed, as_values, unknown = [], set(), []

    def forward(fdef, keywords, depth=0):
        """Keywords a call passes into ``fdef``'s ``**kwargs`` reach
        the calls that spread it on."""
        a = fdef.args
        own = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
        extra = [k for k in keywords if k.arg and k.arg not in own]
        if not extra or a.kwarg is None or depth > 3:
            return
        for kind, target in spreads[id(fdef)]:
            if kind == "package":
                for f in target:
                    forward(f.node, extra, depth + 1)
            elif kind == "local" and not isinstance(target, ast.ClassDef):
                forward(target, extra, depth + 1)
            elif kind == "unnamed":
                unnamed.append(([], extra))

    for path, c in ctx.items():
        # references called, or bound under their own name (then called
        # by that name), are not passed as values
        callees = {
            id(node.value)
            for node in ast.walk(c.tree)
            if isinstance(node, ast.Assign)
            and all(c.name_of(t) == c.name_of(node.value) for t in node.targets)
        }
        for node in ast.walk(c.tree):
            if not isinstance(node, ast.Call):
                continue
            callees.add(id(node.func))
            kind, target, args, func = c.resolve(node)
            if kind == "package":
                unknown += [
                    f"{path}:{node.lineno} {c.name_of(func)}({k.arg}=)"
                    for k in node.keywords
                    if k.arg and not any(f.accepts(k.arg) for f in target)
                ]
                if not any(isinstance(a, ast.Starred) for a in args) and not any(
                    f.node.args.vararg or len(args) <= len(f.positional) for f in target
                ):
                    unknown.append(f"{path}:{node.lineno} {c.name_of(func)}({len(args)} positionals)")
                for f in target:
                    if c.reaches(path, func, f):
                        f.call(args, node.keywords, key, f"{path}:{node.lineno}")
                    forward(f.node, node.keywords)
            elif kind == "local" and not isinstance(target, ast.ClassDef):
                forward(target, node.keywords)
            elif kind == "unnamed":
                # spreads at an unnamed target stay unattributed
                plain = list(itertools.takewhile(lambda a: not isinstance(a, ast.Starred), args))
                unnamed.append((plain, [k for k in node.keywords if k.arg]))
        for node in ast.walk(c.tree):
            if (
                isinstance(node, (ast.Name, ast.Attribute))
                and isinstance(node.ctx, ast.Load)
                and id(node) not in callees
                and c.name_of(node) in funcs
                and not (isinstance(node, ast.Name) and node.id in c.external)
            ):
                as_values.add(c.name_of(node))

    for name in as_values:
        for f in funcs[name]:
            for args, keywords in unnamed:
                f.call(args, keywords)
    # a function with no visible call uses its defaults alone
    for fs in funcs.values():
        for f in fs:
            for p, values in f.values.items():
                values.update(() if values else [f.default_keys.get(p)])
    return funcs, as_values, sorted(unknown)


def _single(files):
    """Sorted ``path::func.param`` of every parameter of a module-level
    package or entry function with exactly one value in use across the
    calls in ``files``.  A function with no visible call uses its
    defaults alone.  A required parameter of a function some file
    passes as a value is skipped: its calls are not all visible."""
    return sorted(f"{f.key}.{p}" for f, p in _single_params(files))


def _single_params(files):
    """``(_Function, param)`` of each parameter :func:`_single` names."""
    funcs, as_values, _ = _scan(files)
    return [
        (f, p)
        for name, fs in funcs.items()
        for f in fs
        for p in f.params
        if (p in f.defaults or name not in as_values)
        and len(f.values[p]) == 1
        and None not in f.values[p]
    ]


def _redundant(files):
    """Sorted ``path:line path::func.param`` of every call in ``files``
    that passes a package or entry function its own default, leaving
    out the parameters in ``ALLOWED``."""
    funcs, _, _ = _scan(files)
    return sorted(
        r for fs in funcs.values() for f in fs for r in f.redundant if _call_site(r) not in ALLOWED
    )


def _call_site(redundant):
    """``path path::func.param`` of a ``path:line path::func.param``."""
    where, key = redundant.split(" ", 1)
    return f"{where.rsplit(':', 1)[0]} {key}"


def test_scan_flags_a_parameter_no_call_sets():
    planted = {
        f"{PKG}/m.py": (
            "import functools\n"
            "def f(a, k=1, *, j=2, unset=3, same='x'):\n    return a\n"
            "def g(df, spread=0, *, by='id'):\n    return df\n"
            "def h(x, n=5, w=0):\n    return x\n"
            "def run(fn, *a):\n    fn(0, w=1)\n    return g(*a)\n"
            "def e(x, deep=1):\n    return x\n"
        ),
        "scripts/m_cli.py": (
            "import functools\n"
            f"from {PKG}.m import e, f as ff, h, run\n"
            "from functools import partial\n"
            "def helper(fn, **kw):\n    return fn(0, **kw)\n"
            "helper(e, deep=2)\n"
            "ff(1, 2, same='x')\n"
            "functools.partial(ff, j=9)\n"
            "run(h)\n"
            "partial(h, n=6)\n"
        ),
        # a test's call is not a caller: ``unset`` stays unset
        "tests/test_m.py": f"from {PKG}.m import f\nf(0, unset=4, same='y')\n",
    }
    m = f"{PKG}/m.py::"
    assert _single(planted) == [m + "f.same", m + "f.unset", m + "g.by"]


def test_scan_flags_a_required_parameter_every_call_fixes():
    planted = {
        f"{PKG}/m.py": (
            "K = 3\n"
            "def _h(df, col, n):\n    return df\n"
            "def _v(x, k):\n    return x\n"
            "def _esc(x, c):\n    return x\n"
            "def run(df, y):\n"
            "    _h(df, 'id', K)\n    _h(y, col='id', n=3)\n"
            "    _v(df, k=1)\n    _v(df, 2)\n"
            "    _esc(df, 'a')\n    return map(_esc, [df])\n"
        ),
        f"{PKG}/other.py": "def _h(a, b, c):\n    return a\n",
        # a test's call does not unfix a parameter
        "tests/test_m.py": f"from {PKG}.m import _h\n_h(0, 'ts', 4)\n",
    }
    m = f"{PKG}/m.py::"
    assert _single(planted) == [m + "_h.col", m + "_h.n"]


def test_scan_counts_values_not_setters():
    planted = {
        f"{PKG}/m.py": (
            "T = 0.3\n"
            "def f(df, threshold=0.5, *, by=None, k=1):\n    return df\n"
            "def pub(df, col, n):\n    return df\n"
            "def run(df, y, n):\n"
            "    f(df, 0.3, by='id')\n    f(y, threshold=T, by='id', k=n)\n"
            "    pub(df, 'text', 2)\n    return pub(y, col='text', n=n)\n"
        ),
        "scripts/m_cli.py": f"from {PKG}.m import f\nf(0, T, by='id', k=2)\n",
        # a test-only second value changes nothing
        "tests/test_m.py": (
            f"from {PKG}.m import f, pub\nf(0, 0.9, by='ts')\npub(0, 'title', 1)\n"
        ),
    }
    m = f"{PKG}/m.py::"
    assert _single(planted) == [m + "f.by", m + "f.threshold", m + "pub.col"]


def test_every_parameter_has_two_values_in_use():
    single = [p for p in _single(_files()) if p not in ALLOWED]
    assert single == [], (
        "parameters with one value in use across the non-test calls "
        "(inline the value, or one module constant shared with the "
        "SQL twin, and delete the parameter):\n  " + "\n  ".join(single)
    )


def test_every_option_is_set_by_some_call():
    unset = [
        f"{f.key}.{p}"
        for f, p in _single_params(_files())
        if f.values[p] == {f.default_keys.get(p)} and f"{f.key}.{p}" not in ALLOWED
    ]
    assert unset == [], (
        "defaulted parameters no non-test call sets (inline the "
        "default and delete the parameter):\n  " + "\n  ".join(unset)
    )


def test_no_private_helper_parameter_is_fixed_by_every_call():
    fixed = [
        f"{f.key}.{p}"
        for f, p in _single_params(_files())
        if f.node.name.startswith("_") and f"{f.key}.{p}" not in ALLOWED
    ]
    assert fixed == [], (
        "private helper parameters every non-test call passes the same "
        "value (inline it and delete the parameter):\n  " + "\n  ".join(fixed)
    )


def test_allowlist_holds_only_single_valued_parameters():
    options = sorted(p for p in ALLOWED if " " not in p)
    assert options == [p for p in _single(_files()) if p in ALLOWED]
    funcs, _, _ = _scan(_files())
    sites = {_call_site(r) for fs in funcs.values() for f in fs for r in f.redundant}
    assert sorted(p for p in ALLOWED if " " in p) == sorted(sites & set(ALLOWED))


def test_scan_flags_a_call_that_passes_a_default():
    planted = {
        f"{PKG}/m.py": (
            "N = 5\n"
            "def f(a, k=1, *, w='x', n=N):\n    return a\n"
            "def run(df):\n"
            "    f(df, 1)\n    f(df, 2, w='x')\n    f(df, n=N)\n    return f(df, w='y', n=6)\n"
        ),
        "tests/test_m.py": f"from {PKG}.m import f\nf(0, k=1)\n",
    }
    m = f"{PKG}/m.py"
    assert _redundant(planted) == [
        f"{m}:5 {m}::f.k",
        f"{m}:6 {m}::f.w",
        f"{m}:7 {m}::f.n",
    ]


def test_no_call_passes_a_default():
    redundant = _redundant(_files())
    assert redundant == [], (
        "calls that pass a function its own default (drop the "
        "argument):\n  " + "\n  ".join(redundant)
    )


def test_scan_flags_a_keyword_no_target_accepts():
    planted = {
        f"{PKG}/m.py": (
            "def f(a, k=1):\n    return a\n"
            "def g(a, **kw):\n    return a\n"
            "def run(df):\n    f(df, k=2)\n    g(df, any=1)\n    return f(df, gone=3)\n"
        ),
        f"{PKG}/other.py": "def f(a, gone=0):\n    return a\n",
        "scripts/m_cli.py": f"from {PKG}.m import f\nf(0, folded=1)\n",
    }
    _, _, unknown = _scan(planted)
    assert unknown == ["scripts/m_cli.py:2 f(folded=)"]


def test_scan_flags_a_positional_no_target_takes():
    planted = {
        f"{PKG}/m.py": (
            "def f(a, k=1):\n    return a\n"
            "def g(a, *rest):\n    return a\n"
            "def run(df, xs):\n    f(df, 2)\n    g(df, 1, 2, 3)\n    f(*xs)\n    return f(df, 2, 3)\n"
        ),
    }
    _, _, unknown = _scan(planted)
    assert unknown == [f"{PKG}/m.py:9 f(3 positionals)"]


def test_no_call_passes_a_keyword_its_target_lacks():
    _, _, unknown = _scan(_files())
    assert unknown == [], (
        "calls that pass a keyword, or more positionals, than any package "
        "function of that name accepts (a folded parameter the call still "
        "sets):\n  " + "\n  ".join(unknown)
    )
