"""The task-side worker prep (geojson_vt_spark._worker._worker_prep).

Inside a task it drops every zip importer from the worker's
``sys.path_importer_cache``, so the next task's
``importlib.invalidate_caches()`` does not re-read pyspark.zip once per
cached importer; the worker can still import from the archive after
it.  On the driver it changes nothing.  A Spark-free AST guard pins
that every function the package ships to Python workers calls it
first."""

import ast
import pathlib
import sys
import zipfile
import zipimport

from geojson_vt_spark._worker import _worker_prep

PKG = pathlib.Path(__file__).resolve().parent.parent / "geojson_vt_spark"

# DataFrame methods whose function argument runs in a Python worker
_SHIPPING_METHODS = {"mapInPandas", "mapInArrow", "applyInPandasWithState"}
# the one name the guard accepts as the first statement
_PREP = "_worker_prep"
# sub-modules a worker is unlikely to have imported; the first one
# absent from the task's sys.modules is imported after the prep
_FRESH_MODULES = ("pyspark.ml.linalg", "pyspark.mllib.linalg",
                  "pyspark.ml.stat", "pyspark.mllib.stat")


# ---------------------------------------------------------------- AST guard

def _is_pandas_udf(dec) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(f, ast.Name) and f.id == "pandas_udf") or (
        isinstance(f, ast.Attribute) and f.attr == "pandas_udf")


def _calls_prep_first(fn) -> bool:
    body = fn.body
    if (body and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)):
        body = body[1:]  # a docstring
    if not body or not isinstance(body[0], ast.Expr):
        return False
    call = body[0].value
    return (isinstance(call, ast.Call) and not call.args
            and not call.keywords and isinstance(call.func, ast.Name)
            and call.func.id == _PREP)


def shipped_functions(source: str, filename: str = "<src>"):
    """(shipped, unresolved): every function def in ``source`` that is
    passed to mapInPandas / mapInArrow / applyInPandasWithState or
    decorated with pandas_udf, as (name, line, calls prep first); plus
    each shipping call whose function argument is not a def visible
    from the call site, as (method, line)."""
    shipped, unresolved = [], []

    def local_defs(body):
        return {n.name: n for n in body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}

    def walk(node, scopes):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if any(_is_pandas_udf(d) for d in node.decorator_list):
                shipped.append((node.name, node.lineno,
                                _calls_prep_first(node)))
            scopes = scopes + [local_defs(node.body)]
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _SHIPPING_METHODS):
            arg = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "func"), None)
            target = None
            if isinstance(arg, ast.Name):
                target = next((s[arg.id] for s in reversed(scopes)
                               if arg.id in s), None)
            if target is None:
                unresolved.append((node.func.attr, node.lineno))
            else:
                shipped.append((target.name, target.lineno,
                                _calls_prep_first(target)))
        for child in ast.iter_child_nodes(node):
            walk(child, scopes)

    tree = ast.parse(source, filename)
    walk(tree, [local_defs(tree.body)])
    return sorted(set(shipped), key=lambda t: t[1]), unresolved


def test_every_shipped_function_calls_worker_prep_first():
    found, missing, unresolved = [], [], []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent)
        shipped, unres = shipped_functions(path.read_text(), str(path))
        found += [(rel, name, line) for name, line, _ in shipped]
        missing += [f"{rel}:{line} {name}" for name, line, ok in shipped
                    if not ok]
        unresolved += [f"{rel}:{line} {m}" for m, line in unres]
    # the package ships 22 functions today; a scan that finds fewer
    # has stopped recognising them
    assert len(found) >= 22, found
    assert not unresolved, (
        "shipping call whose function the guard cannot see: "
        f"{unresolved}")
    assert not missing, (
        f"functions shipped to Python workers must call {_PREP}() "
        f"first: {missing}")


def test_guard_flags_a_shipped_function_without_prep():
    src = '''
from pyspark.sql.functions import pandas_udf

def stage(df):
    def good(batches):
        """docstring"""
        _worker_prep()
        yield from batches

    def bad(batches):
        yield from batches
        _worker_prep()

    @pandas_udf("long")
    def udf_bad(s):
        return s

    @pandas_udf("long")
    def udf_good(s):
        _worker_prep()
        return s

    df.mapInArrow(good, "x long")
    df.mapInPandas(bad, "x long")
    return df.mapInArrow(lambda it: it, "x long")
'''
    shipped, unresolved = shipped_functions(src)
    assert [(n, ok) for n, _, ok in shipped] == [
        ("good", True), ("bad", False), ("udf_bad", False),
        ("udf_good", True)]
    assert [m for m, _ in unresolved] == ["mapInArrow"]


# ---------------------------------------------------------------- driver

def test_worker_prep_leaves_driver_cache_unchanged(tmp_path):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("gvt_probe_mod.py", "X = 1\n")
    key = str(archive)
    sys.path_importer_cache[key] = zipimport.zipimporter(key)
    try:
        before = dict(sys.path_importer_cache)
        _worker_prep()
        _worker_prep()
        after = dict(sys.path_importer_cache)
        assert after.keys() == before.keys()
        assert all(after[k] is before[k] for k in before)
        assert isinstance(after[key], zipimport.zipimporter)
    finally:
        sys.path_importer_cache.pop(key, None)


# ---------------------------------------------------------------- task

_PROBE_SCHEMA = ("n_after long, n_again long, fresh string, loader string, "
                 "origin string, pyspark_file string")


def test_worker_prep_drops_zip_importers_and_keeps_imports(spark):
    fresh_modules = _FRESH_MODULES

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        def n_zip():
            return sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())

        _worker_prep()
        n_after = n_zip()
        _worker_prep()  # idempotent
        n_again = n_zip()
        for _ in batches:
            pass
        fresh = next((m for m in fresh_modules if m not in sys.modules), "")
        loader = origin = ""
        if fresh:
            mod = importlib.import_module(fresh)
            loader = type(mod.__loader__).__name__
            origin = mod.__file__
        yield pa.RecordBatch.from_pylist([{
            "n_after": n_after, "n_again": n_again, "fresh": fresh,
            "loader": loader, "origin": origin,
            "pyspark_file": pyspark.__file__}])

    row = (spark.range(1, numPartitions=1)
           .mapInArrow(probe, _PROBE_SCHEMA).collect()[0])
    assert row["n_after"] == 0
    assert row["n_again"] == 0
    # the worker imports pyspark from Spark's pyspark.zip, so a module
    # it had not imported yet must come from that archive after the prep
    assert ".zip" in row["pyspark_file"], row["pyspark_file"]
    assert row["fresh"], f"worker had already imported all of {fresh_modules}"
    assert row["loader"] == "zipimporter", row
    archive = row["pyspark_file"].split(".zip")[0] + ".zip"
    assert row["origin"].startswith(archive + "/"), row
