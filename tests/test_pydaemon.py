"""The Python worker daemon (``_pydaemon``): zip archive directories are
re-read on ``invalidate_caches`` only when the archive changed on disk."""

from __future__ import annotations

import importlib.util
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from flinkecuserbehavioranalysis_spark import _pydaemon
from flinkecuserbehavioranalysis_spark.session import (
    PYTHON_DAEMON_MODULE,
    _workers_can_import_package,
)

from pyspark.sql import functions as F


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="zipimport is lazy on >= 3.13")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"probe_a": "A = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(_pydaemon, "_STAMPS", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        _pydaemon._make_invalidate(zipimport.zipimporter.invalidate_caches),
    )
    try:
        first, second = zipimport.zipimporter(archive), zipimport.zipimporter(archive)
        reads.clear()
        first.invalidate_caches()  # not stamped yet: read once
        first.invalidate_caches()
        second.invalidate_caches()
        assert reads == [archive]

        # rewrite in place with one more module; bump the mtime as well
        # so a coarse-grained clock cannot hide the change
        st = os.stat(archive)
        _write_zip(archive, {"probe_a": "A = 1\n", "probe_b": "B = 2\n"})
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        first.invalidate_caches()
        second.invalidate_caches()
        assert reads == [archive, archive]
        for importer in (first, second):
            spec = importer.find_spec("probe_b")
            assert spec is not None
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
            assert mod.B == 2
    finally:
        zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(
    not _workers_can_import_package(),
    reason="workers cannot import the package from this cwd/PYTHONPATH",
)
def test_workers_run_patched_daemon_and_see_added_py_files(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == PYTHON_DAEMON_MODULE

    @F.pandas_udf("string")
    def patch_origin(x):
        import sys
        import zipimport

        origin = zipimport.zipimporter.invalidate_caches.__module__
        return x.map(lambda _: f"{origin}|{sys.version_info >= (3, 13)}")

    origin, lazy = spark.range(1).select(patch_origin("id")).first()[0].split("|")
    assert origin == ("zipimport" if lazy == "True" else PYTHON_DAEMON_MODULE)

    # an archive shipped after the workers started is still importable
    name = f"pydaemon_probe_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 41\n"})
    sc.addPyFile(str(archive))

    @F.pandas_udf("long")
    def shipped_value(x):
        import importlib

        return x + importlib.import_module(name).VALUE

    assert spark.range(1).select(shipped_value("id")).first()[0] == 41
