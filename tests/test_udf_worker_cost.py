"""Python-worker fixed cost: engine UDFs drop the worker's zip importers,
a TileSet's side frames live in the JVM, and literal tables are
``LocalRelation``s that no Python worker reads.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; on CPython 3.11/3.12 that re-reads the directory of every
cached ``zipimporter`` (pyspark.zip, the py4j zip, the Spark core jar).
The engine's ``pandas_udf`` wrapper drops those finders at every call, and
every engine ``mapInPandas`` / ``applyInPandas`` callable is wrapped with
``dropping_zip_importers`` for the same reason.
"""

import ast
import pathlib
import sys
import zipfile
import zipimport
from typing import Iterator

import pandas as pd
from pyspark.rdd import PythonEvalType

from gos2_spark.spark.functions import (
    drop_zip_importers, dropping_zip_importers, pandas_udf,
)

ROOT = pathlib.Path(__file__).resolve().parent.parent
_WRAPPER_MODULE = "gos2_spark/spark/functions.py"


def _zip_finders() -> int:
    return sum(
        isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
    )


def test_drop_zip_importers_keeps_zip_imports_working(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipmod_first.py", "VALUE = 1\n")
        zf.writestr("zipmod_second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        import zipmod_first

        assert zipmod_first.VALUE == 1
        assert isinstance(
            sys.path_importer_cache.get(str(archive)), zipimport.zipimporter
        )
        drop_zip_importers()
        assert _zip_finders() == 0

        if hasattr(zipimport, "_read_directory"):
            # the rebuilt finder must come from zipimport's directory cache
            def reread(path):
                raise AssertionError(f"archive re-read: {path}")

            monkeypatch.setattr(zipimport, "_read_directory", reread)
        import zipmod_second

        assert zipmod_second.VALUE == 2
        assert zipmod_second.__file__.startswith(str(archive))
    finally:
        sys.modules.pop("zipmod_first", None)
        sys.modules.pop("zipmod_second", None)
        sys.path_importer_cache.pop(str(archive), None)


def test_wrapper_keeps_eval_type_inference(spark):
    @pandas_udf("long")
    def scalar(x: pd.Series) -> pd.Series:
        return x

    @pandas_udf("long")
    def batches(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        yield from it

    @pandas_udf("double")
    def mean(x: pd.Series) -> float:
        return float(x.mean())

    assert scalar.evalType == PythonEvalType.SQL_SCALAR_PANDAS_UDF
    assert batches.evalType == PythonEvalType.SQL_SCALAR_PANDAS_ITER_UDF
    assert mean.evalType == PythonEvalType.SQL_GROUPED_AGG_PANDAS_UDF
    assert scalar.__name__ == "scalar"


def _engine_files():
    yield ROOT / "__spark_entry__.py"
    yield from sorted((ROOT / "gos2_spark").rglob("*.py"))
    yield from sorted((ROOT / "jobs").rglob("*.py"))


def test_engine_takes_pandas_udf_from_the_wrapper():
    hits = []
    for path in _engine_files():
        rel = path.relative_to(ROOT).as_posix()
        if rel == _WRAPPER_MODULE:
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            if (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").startswith("pyspark")
                and any(a.name == "pandas_udf" for a in node.names)
            ) or (isinstance(node, ast.Attribute) and node.attr == "pandas_udf"):
                hits.append(f"{rel}:{node.lineno}")
    assert not hits, "pandas_udf taken from pyspark directly:\n" + "\n".join(hits)


# DataFrame / GroupedData methods that run a Python callable per task
_MAP_METHODS = {
    "mapInPandas", "mapInArrow", "applyInPandas", "applyInArrow",
    "applyInPandasWithState",
}


def test_engine_map_callables_drop_zip_importers():
    """Every engine mapInPandas/applyInPandas callable is passed as
    ``dropping_zip_importers(fn)``."""
    sites, hits = 0, []
    for path in _engine_files():
        rel = path.relative_to(ROOT).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _MAP_METHODS
            ):
                continue
            sites += 1
            fn = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "func"), None
            )
            if not (
                isinstance(fn, ast.Call)
                and isinstance(fn.func, ast.Name)
                and fn.func.id == "dropping_zip_importers"
            ):
                hits.append(f"{rel}:{node.lineno}")
    assert sites >= 8
    assert not hits, "unwrapped engine map callables:\n" + "\n".join(hits)


def test_wrapped_map_callables_keep_arity_and_drop_finders(spark):
    """applyInPandas reads the callable's arity (key or no key) with
    getfullargspec, so the wrapper must keep it; a wrapped mapInPandas
    callable sees no zip finder in its worker once its imports are done."""
    df = spark.createDataFrame([(1, 2.0), (1, 3.0), (2, 5.0)], "k long, v double")

    def no_key(pdf):
        return pdf.assign(v=pdf.v.sum())

    def with_key(key, pdf):
        return pdf.assign(v=float(key[0]))

    g = df.groupBy("k")
    got = g.applyInPandas(dropping_zip_importers(no_key), schema=df.schema)
    assert sorted(map(tuple, got.collect())) == [(1, 5.0), (1, 5.0), (2, 5.0)]
    got = g.applyInPandas(dropping_zip_importers(with_key), schema=df.schema)
    assert sorted(map(tuple, got.collect())) == [(1, 1.0), (1, 1.0), (2, 2.0)]

    def zip_finders(it):
        import sys as _sys
        import zipimport as _zi

        for pdf in it:
            n = sum(
                isinstance(f, _zi.zipimporter)
                for f in _sys.path_importer_cache.values()
            )
            yield pd.DataFrame({"n": [n] * len(pdf)})

    out = spark.range(0, 16, numPartitions=4).mapInPandas(
        dropping_zip_importers(zip_finders), schema="n long"
    )
    assert len(out.collect()) == 16  # first imports may rebuild finders
    assert {r.n for r in out.collect()} == {0}


def test_worker_holds_no_zip_importer_in_a_wrapped_udf(spark):
    @pandas_udf("long")
    def zip_finders(x: pd.Series) -> pd.Series:
        import sys as _sys
        import zipimport as _zi

        n = sum(
            isinstance(f, _zi.zipimporter) for f in _sys.path_importer_cache.values()
        )
        return pd.Series([n] * len(x))

    df = spark.range(0, 16, numPartitions=4).select(zip_finders("id").alias("n"))
    assert len(df.collect()) == 16
    assert {r.n for r in df.collect()} == {0}


def test_tileset_side_frames_are_cached(spark):
    from gos2_spark.geometry import Loop
    from gos2_spark.spark.joins import TileSet

    tiles = TileSet({"nyc": Loop.regular(40.7128, -74.0060, 1.5, 16)}, max_cells=16)
    art = tiles.spark_artifacts(spark)
    assert art["grid"].is_cached
    assert art["cov"].is_cached
    assert tiles.spark_artifacts(spark) is art


def test_literal_frames_are_local_relations(spark):
    from gos2_spark.spark.session import literal_frame

    ddl = "s string, i int, l long, d double, b boolean"
    rows = [("a", 1, 2, 3.5, True), (None, None, None, None, None)]
    for data in (rows, []):
        df = literal_frame(spark, data, ddl)
        analyzed = df._jdf.queryExecution().analyzed()
        assert analyzed.getClass().getSimpleName() == "LocalRelation"
        assert df.schema == spark.createDataFrame(data, ddl).schema
        assert [tuple(r) for r in df.collect()] == data


# (module, enclosing function) allowed to call createDataFrame: the
# literal-frame helper, and the two TileSet side frames, which are cached
# in the JVM once per TileSet
_CREATE_DATAFRAME_OWNERS = {
    ("gos2_spark/spark/session.py", "literal_frame"),
    ("gos2_spark/spark/joins.py", "TileSet.covering_df"),
    ("gos2_spark/spark/joins.py", "TileSet.grid_df"),
}


def _calls_with_owner(tree):
    """(call node, dotted name of its enclosing class/function scope)."""
    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                yield from walk(child, scope + [child.name])
            else:
                if isinstance(child, ast.Call):
                    yield child, ".".join(scope)
                yield from walk(child, scope)

    yield from walk(tree, [])


def test_engine_literal_frames_go_through_the_helper():
    """``createDataFrame`` over Python rows is a Python RDD that runs
    Python-worker tasks on every execution; engine and registry code
    builds literal tables with ``literal_frame`` instead."""
    hits = []
    for path in _engine_files():
        rel = path.relative_to(ROOT).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        for node, owner in _calls_with_owner(tree):
            if (
                isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and (rel, owner) not in _CREATE_DATAFRAME_OWNERS
            ):
                hits.append(f"{rel}:{node.lineno} in {owner or '<module>'}")
    assert not hits, "createDataFrame outside literal_frame:\n" + "\n".join(hits)
