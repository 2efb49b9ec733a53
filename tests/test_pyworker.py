"""The Python daemon's zip-cache guard (``_pyworker``).

Every Python task calls ``importlib.invalidate_caches()``; the guard must
skip re-reading an unchanged archive, yet still re-read one that changed
and still let ``addPyFile`` ship new modules to reused workers.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from kafka_stream_aggregator_spark._pyworker import unchanged_archive_guard


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def _guarded_archive(tmp_path, monkeypatch):
    """An archive on sys.path, imported once, with the guard installed and
    one guarded invalidate done (as the daemon does before it forks);
    returns the archive path and a per-archive read counter."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pyworker_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", unchanged_archive_guard())
    reads = {archive: 0}
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path in reads:
            reads[path] += 1
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    for name in ("pyworker_mod_a", "pyworker_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pyworker_mod_a").VALUE == "a"
    importlib.invalidate_caches()
    reads[archive] = 0
    return archive, reads


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive, reads = _guarded_archive(tmp_path, monkeypatch)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads[archive] == 0
    assert importlib.import_module("pyworker_mod_a").VALUE == "a"


def test_rewritten_archive_is_reread_and_its_new_module_imports(tmp_path, monkeypatch):
    archive, reads = _guarded_archive(tmp_path, monkeypatch)
    before = os.stat(archive)
    _write_zip(archive, {"pyworker_mod_a": "VALUE = 'a'\n", "pyworker_mod_b": "VALUE = 'b'\n"})
    # a rewrite inside one mtime tick still differs in size
    assert os.stat(archive).st_size != before.st_size
    importlib.invalidate_caches()
    assert reads[archive] == 1
    assert importlib.import_module("pyworker_mod_b").VALUE == "b"
    importlib.invalidate_caches()
    assert reads[archive] == 1


def test_workers_run_the_guard(spark):
    """``get_spark`` starts Python workers under ``_pyworker``."""

    def which(batches):
        import zipimport as zi

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"f": [zi.zipimporter.invalidate_caches.__qualname__]})

    got = {r.f for r in spark.range(1).repartition(1).mapInPandas(which, "f string").collect()}
    assert got == {"unchanged_archive_guard.<locals>.invalidate_caches"}


def test_add_py_file_reaches_a_later_python_task(spark, tmp_path):
    """The case Spark invalidates caches for: a module shipped with
    addPyFile after workers have already run Python tasks."""

    def probe(batches):
        import pandas as pd

        for _ in batches:
            try:
                import pyworker_shipped

                value = pyworker_shipped.VALUE
            except ImportError:
                value = "missing"
            yield pd.DataFrame({"v": [value]})

    one = spark.range(1).repartition(1)
    assert one.mapInPandas(probe, "v string").collect()[0].v == "missing"
    archive = tmp_path / "shipped.zip"
    _write_zip(archive, {"pyworker_shipped": "VALUE = 'shipped'\n"})
    spark.sparkContext.addPyFile(str(archive))
    assert one.mapInPandas(probe, "v string").collect()[0].v == "shipped"
