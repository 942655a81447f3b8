"""The worker-side zip-importer guard (linref_spark/pyworker.py)."""

from __future__ import annotations

import ast
import importlib
import pathlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from linref_spark import pyworker

PACKAGE = pathlib.Path(pyworker.__file__).parent

needs_eager = pytest.mark.skipif(
    not pyworker.EAGER_ZIP_INVALIDATE,
    reason="zipimporter.invalidate_caches is lazy on this Python; no guard",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@needs_eager
def test_guard_skips_unchanged_zip_and_rereads_changed_one(tmp_path, monkeypatch):
    archive = tmp_path / "shipped.zip"
    _write_zip(archive, {"zg_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    # put the real method back after the test, and let install() run here
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    for mod in ("zg_first", "zg_second"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("zg_first").VALUE == 1
    assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)

    assert pyworker.install() and pyworker.installed()
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive_path):
        reads.append(archive_path)
        return real_read(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    # what Spark's per-task invalidate_caches is for: a re-shipped archive
    _write_zip(archive, {"zg_first": "VALUE = 1\n", "zg_second": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("zg_second").VALUE == 2
    importlib.invalidate_caches()
    assert reads == [str(archive)]


@pyworker.pandas_udf(
    StructType([StructField("v", LongType()), StructField("guarded", LongType())])
)
def _plus_one_and_guard(v: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(
        {"v": v + 1, "guarded": [int(pyworker.installed())] * len(v)}
    )


def test_worker_udf_installs_guard(spark):
    df = spark.range(0, 400, numPartitions=8)
    out = df.select(_plus_one_and_guard(F.col("id")).alias("r")).select("r.*")
    rows = out.collect()
    assert sorted(r["v"] for r in rows) == list(range(1, 401))
    assert {r["guarded"] for r in rows} == {int(pyworker.EAGER_ZIP_INVALIDATE)}


def _engine_sources():
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name != "pyworker.py":
            yield path, ast.parse(path.read_text(), str(path))


def _is_pyworker_attr(node, attr):
    return (
        isinstance(node, ast.Attribute)
        and node.attr == attr
        and isinstance(node.value, ast.Name)
        and node.value.id == "pyworker"
    )


def test_every_python_entry_point_goes_through_pyworker():
    udf_sites = frame_sites = 0
    for path, tree in _engine_sources():
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                names = {a.name for a in node.names}
                assert "pandas_udf" not in names, f"{path}:{node.lineno}"
            if isinstance(node, ast.Attribute) and node.attr == "pandas_udf":
                assert _is_pyworker_attr(node, "pandas_udf"), f"{path}:{node.lineno}"
                udf_sites += 1
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("mapInPandas", "applyInPandas")
            ):
                fn = node.args[0]
                assert isinstance(fn, ast.Call) and _is_pyworker_attr(
                    fn.func, "pandas_fn"
                ), f"{path}:{node.lineno}"
                frame_sites += 1
    assert udf_sites >= 20 and frame_sites == 5
