"""The engine's PySpark worker daemon: which function the workers run, that
py-files added to a warm session still import, and when an archive is
re-read."""

from __future__ import annotations

import os
import uuid
import zipfile
import zipimport

import pytest

from nocouncil_etl_spark import pydaemon


def _one_task(spark, fn, schema):
    return spark.range(1).coalesce(1).mapInPandas(fn, schema).collect()


def test_python_workers_run_the_engine_daemon(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        f = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame(
                {"file": [f.__code__.co_filename], "name": [f.__qualname__]}
            )

    (row,) = _one_task(spark, report, "file string, name string")
    assert os.path.realpath(row.file) == os.path.realpath(pydaemon.__file__)
    assert row.name == "_invalidate_caches"


def test_py_file_added_to_warm_workers_imports(spark, tmp_path):
    def pid(batches):
        import os

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"v": [os.getpid()]})

    _one_task(spark, pid, "v long")  # warm the workers
    mod = f"graft_added_{uuid.uuid4().hex[:12]}"
    archive = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def use(batches):
        import importlib

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"v": [importlib.import_module(mod).VALUE]})

    assert [r.v for r in _one_task(spark, use, "v long")] == [42]


def _write(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)


@pytest.fixture
def reads(monkeypatch):
    seen = []
    stock = pydaemon._stock_invalidate

    def counting(self):
        seen.append(self.archive)
        return stock(self)

    monkeypatch.setattr(pydaemon, "_stock_invalidate", counting)
    return seen


def test_archive_reread_only_when_changed(tmp_path, reads):
    path = str(tmp_path / "lib.zip")
    _write(path, {"a.py": "A = 1\n"})
    imp = zipimport.zipimporter(path)

    pydaemon._invalidate_caches(imp)  # never read by this function: reads
    pydaemon._invalidate_caches(imp)  # unchanged: skips
    assert len(reads) == 1

    _write(path, {"a.py": "A = 1\n", "b.py": "B = 2\n"})  # new size
    pydaemon._invalidate_caches(imp)
    assert len(reads) == 2
    assert imp.find_spec("b") is not None

    st = os.stat(path)  # same size, new mtime
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    pydaemon._invalidate_caches(imp)
    pydaemon._invalidate_caches(imp)
    assert len(reads) == 3


def test_missing_archive_takes_the_stock_path(tmp_path, reads):
    path = str(tmp_path / "gone.zip")
    _write(path, {"a.py": "A = 1\n"})
    imp = zipimport.zipimporter(path)
    pydaemon._invalidate_caches(imp)
    os.remove(path)
    pydaemon._invalidate_caches(imp)
    pydaemon._invalidate_caches(imp)
    assert len(reads) == 3
    assert imp.find_spec("a") is None
