"""Every file-derived memo in the package goes through ``cache.memo``.

Before ``cache.py`` the engine kept thirteen module-level caches with three
stamp functions, each with its own invalidation gap. This guard fails when a
module other than ``cache.py`` grows a module-level cache dict again, or
stats files itself to invalidate one. The one exemption is the Python
worker entry ``_worker/pyspark_cis_worker.py``: Spark's worker daemon
imports it before the package is on the worker's path, and the cache it
stamps is the interpreter's zipimporter directory, not an engine value.

The streaming twins likewise read their state tables through
``streaming/state.py`` only: a streaming module that refreshes a path or
probes a directory for parquet files itself fails the guard.

ADC tables are built per query by ``LOPQModel.adc_luts`` over all the
cells a caller scores, each coarse half once; a per-cell ``adc_lut``
(definition or call) anywhere in the package fails the guard.

Vector columns cross into NumPy through ``functions/arrow_vec.py`` only: a
hand-written ``np.array(list(...))`` or ``np.array(....to_list())``
conversion anywhere in the package, a driver-side ``Row``-list conversion
``np.array([r["v"] for r in rows])`` or its loop form
``for r in rows: np.asarray(r["v"])`` (``toArrow()`` plus
``arrow_vec.vectors`` replaces both), or a list-column ``.flatten()`` in any
other module, fails the guard (NumPy code flattens with ``.ravel()``)."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "columbiaimagesearch_spark"
# not file-derived caches: an executor-side per-worker model singleton and
# the query-spec registry
ALLOWED = {"_MODEL_SINGLETONS", "_REGISTRY"}
STAT_CALLS = {"stat", "lstat", "scandir"}
STREAMING = PKG / "streaming"
ARROW_VEC = PKG / "functions" / "arrow_vec.py"
WORKER_ENTRY = PKG / "_worker" / "pyspark_cis_worker.py"


def _module_dicts(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        # an EMPTY dict at module level is a store filled at run time;
        # constant tables (knob presets, lookup maps) are not caches
        is_dict = (isinstance(value, ast.Dict) and not value.keys) or (
            isinstance(value, ast.Call)
            and isinstance(value.func, ast.Name)
            and value.func.id == "dict"
            and not value.args
            and not value.keywords
        )
        for t in targets:
            if isinstance(t, ast.Name) and (
                is_dict or t.id.endswith(("_CACHE", "_MEMO"))
            ):
                yield node.lineno, t.id


def _os_aliases(tree: ast.Module) -> set[str]:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names |= {a.asname or a.name for a in node.names if a.name == "os"}
    return names


def _stat_calls(tree: ast.Module):
    aliases = _os_aliases(tree)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            for a in node.names:
                if a.name in STAT_CALLS:
                    yield node.lineno, f"from os import {a.name}"
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in STAT_CALLS
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id in aliases
        ):
            yield node.lineno, f"{node.func.value.id}.{node.func.attr}()"


def _state_probes(tree: ast.Module):
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        if node.func.attr == "refreshByPath":
            yield node.lineno, "refreshByPath()"
        elif (
            node.func.attr == "endswith"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == ".parquet"
        ):
            yield node.lineno, '.endswith(".parquet")'


def _per_cell_luts(tree: ast.Module):
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "adc_lut":
            yield node.lineno, "def adc_lut"
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name == "adc_lut":
                yield node.lineno, "adc_lut()"


def _row_field_listcomp(node: ast.AST) -> bool:
    """``[r["field"] for r in ...]`` or ``[r.field for r in ...]``: a field
    read off each element of a collected ``Row`` list."""
    if not (isinstance(node, ast.ListComp) and len(node.generators) == 1):
        return False
    target, elt = node.generators[0].target, node.elt
    if not isinstance(target, ast.Name):
        return False
    if isinstance(elt, ast.Subscript):
        keyed = isinstance(elt.slice, ast.Constant) and isinstance(elt.slice.value, str)
    else:
        keyed = isinstance(elt, ast.Attribute)
    return keyed and isinstance(elt.value, ast.Name) and elt.value.id == target.id


def _loop_row_reads(tree: ast.Module):
    """``np.asarray(r["field"])`` (or ``np.array``) where ``r`` is the
    target of an enclosing ``for`` loop or comprehension: a vector
    converted off each collected ``Row``, one at a time."""
    seen = set()
    for loop in ast.walk(tree):
        if isinstance(loop, ast.For):
            targets = [loop.target]
        elif isinstance(loop, (ast.ListComp, ast.SetComp, ast.GeneratorExp, ast.DictComp)):
            targets = [g.target for g in loop.generators]
        else:
            continue
        names = {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}
        for node in ast.walk(loop):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("array", "asarray")
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id in ("np", "numpy")
                and node.args
            ):
                continue
            arg = node.args[0]
            if (
                isinstance(arg, ast.Subscript)
                and isinstance(arg.value, ast.Name)
                and arg.value.id in names
                and isinstance(arg.slice, ast.Constant)
                and isinstance(arg.slice.value, str)
                and node.lineno not in seen
            ):
                seen.add(node.lineno)
                yield node.lineno, f"np.{node.func.attr}(r[...]) per row"


def _vector_conversions(tree: ast.Module):
    yield from _loop_row_reads(tree)
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        f = node.func
        if f.attr in ("flatten", "list_flatten"):
            yield node.lineno, f".{f.attr}()"
        elif (
            f.attr == "array"
            and isinstance(f.value, ast.Name)
            and f.value.id in ("np", "numpy")
            and node.args
        ):
            arg = node.args[0]
            inner = arg.func if isinstance(arg, ast.Call) else None
            if _row_field_listcomp(arg):
                yield node.lineno, "np.array([r[...] for r in rows])"
            elif isinstance(inner, ast.Name) and inner.id == "list":
                yield node.lineno, "np.array(list(...))"
            elif isinstance(inner, ast.Attribute) and inner.attr == "to_list":
                yield node.lineno, "np.array(....to_list())"


def test_no_module_caches_outside_cache_py():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if (path.name == "cache.py" and path.parent == PKG) or path == WORKER_ENTRY:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(PKG.parent)
        offenders += [
            f"{rel}:{line}: module-level dict {name}"
            for line, name in _module_dicts(tree)
            if name not in ALLOWED
        ]
        offenders += [
            f"{rel}:{line}: {call}" for line, call in _stat_calls(tree)
        ]
    assert not offenders, (
        "file-derived memos go through columbiaimagesearch_spark.cache.memo:\n"
        + "\n".join(offenders)
    )


def test_streaming_state_reads_go_through_state_py():
    offenders = []
    for path in sorted(STREAMING.rglob("*.py")):
        if path.name == "state.py" and path.parent == STREAMING:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(PKG.parent)
        offenders += [f"{rel}:{line}: {call}" for line, call in _state_probes(tree)]
    assert not offenders, (
        "streaming state tables are probed and read through "
        "columbiaimagesearch_spark.streaming.state:\n" + "\n".join(offenders)
    )


def test_adc_tables_are_built_per_query_not_per_cell():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(PKG.parent)
        offenders += [f"{rel}:{line}: {call}" for line, call in _per_cell_luts(tree)]
    assert not offenders, (
        "build ADC tables with LOPQModel.adc_luts(q, cells), one call over "
        "all the cells being scored:\n" + "\n".join(offenders)
    )


def test_vectors_cross_through_arrow_vec_only():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == ARROW_VEC:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(PKG.parent)
        offenders += [
            f"{rel}:{line}: {call}" for line, call in _vector_conversions(tree)
        ]
    assert not offenders, (
        "read vector columns with columbiaimagesearch_spark.functions."
        "arrow_vec.vectors and build them with arrow_vec.column:\n"
        + "\n".join(offenders)
    )


def test_guard_catches_a_planted_cache():
    planted = ast.parse(
        "import os as _os\n"
        "_X_CACHE: dict = {}\n"
        "_Y = dict()\n"
        "_PARAMS = {'k': 1}\n"
        "def f(p):\n"
        "    return _os.stat(p)\n"
        "def g(spark, p):\n"
        "    spark.catalog.refreshByPath(p)\n"
        "    return any(f.endswith('.parquet') for f in _os.listdir(p))\n"
        "def h(name):\n"
        "    return name.endswith('.json')\n"
        "def adc_lut(q, cell):\n"
        "    pass\n"
        "def score(model, q, cells):\n"
        "    model.adc_luts(q, cells)\n"
        "    return [model.adc_lut(q, c) for c in cells] + [adc_lut(q, 0)]\n"
        "def kernel(pdf, batch, M):\n"
        "    X = np.array(list(pdf['v']), dtype=np.float64)\n"
        "    F = np.array(pdf['fine'].to_list(), dtype=np.int64)\n"
        "    V = np.asarray(batch.column(1).flatten()).reshape(len(X), -1)\n"
        "    return np.array([X, F]), X.ravel()\n"
        "def collected(rows, ids, qm):\n"
        "    E = np.array([r['embedding'] for r in rows], dtype=np.float64)\n"
        "    L = numpy.array([r.label for r in rows])\n"
        "    return E, L, np.array([qm[q] for q in ids]), np.array([q[0] for q in ids])\n"
        "def moments(partials, keys):\n"
        "    for r in partials.collect():\n"
        "        s = np.asarray(r['s'], dtype=np.float64)\n"
        "        n = np.asarray(r.n)\n"
        "    return [np.array(r['op']) for r in partials], np.asarray(keys['s'])\n"
    )
    assert [n for _, n in _module_dicts(planted)] == ["_X_CACHE", "_Y"]
    assert [c for _, c in _stat_calls(planted)] == ["_os.stat()"]
    assert [c for _, c in _state_probes(planted)] == [
        "refreshByPath()",
        '.endswith(".parquet")',
    ]
    assert [c for _, c in _per_cell_luts(planted)] == [
        "def adc_lut",
        "adc_lut()",
        "adc_lut()",
    ]
    assert sorted(c for _, c in _vector_conversions(planted)) == [
        ".flatten()",
        "np.array(....to_list())",
        "np.array([r[...] for r in rows])",
        "np.array([r[...] for r in rows])",
        "np.array(list(...))",
        "np.array(r[...]) per row",
        "np.asarray(r[...]) per row",
    ]
