"""The Python-worker daemon (openetlagent_spark/worker_daemon.py): a
zip archive's directory is re-read only when the archive changed, in
process and in the workers of the test session."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from openetlagent_spark import worker_daemon
from openetlagent_spark.session import WORKER_DAEMON_MODULE


@pytest.fixture
def gate(monkeypatch):
    """Install the gate for one test; monkeypatch restores the stock
    ``invalidate_caches`` and the signature table afterwards."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_READ_AT", {})
    return worker_daemon.install_zip_rescan_gate


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="the gate is only installed below 3.12")
def test_gate_rereads_only_a_changed_archive(gate, tmp_path, monkeypatch):
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, {"zmod_a": "X = 1\n"})
    os.utime(archive, ns=(1_000_000_000, 1_000_000_000))
    monkeypatch.syspath_prepend(archive)
    for name in ("zmod_a", "zmod_b", "zmod_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zmod_a").X == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    assert gate() is True
    assert gate() is True  # idempotent: wraps the stock method once
    assert not hasattr(zipimport.zipimporter.invalidate_caches.__wrapped__, "__wrapped__")
    importer.invalidate_caches()  # first call reads and records the signature
    files = importer._files
    importlib.invalidate_caches()
    importer.invalidate_caches()
    assert importer._files is files  # unchanged archive: not re-read

    # a new size makes a newly added module importable
    _write_zip(archive, {"zmod_a": "X = 1\n", "zmod_b": "Y = 2\n"})
    os.utime(archive, ns=(1_000_000_000, 1_000_000_000))
    importlib.invalidate_caches()
    assert importer._files is not files
    assert importlib.import_module("zmod_b").Y == 2

    # same size, new mtime: zmod_c replaces zmod_b byte for byte
    size = os.stat(archive).st_size
    _write_zip(archive, {"zmod_a": "X = 1\n", "zmod_c": "Y = 2\n"})
    assert os.stat(archive).st_size == size
    os.utime(archive, ns=(2_000_000_000, 2_000_000_000))
    importlib.invalidate_caches()
    assert importlib.import_module("zmod_c").Y == 2


def test_gate_not_installed_from_312(gate, monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert gate() is False
    assert zipimport.zipimporter.invalidate_caches is stock


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="the gate is only installed below 3.12")
def test_workers_keep_pyspark_zip_directory_across_tasks(spark):
    """Fails if PySpark's per-task re-scan of pyspark.zip returns: a
    reused worker must hold the same directory object in two sequential
    tasks."""
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == WORKER_DAEMON_MODULE

    @F.pandas_udf("string")
    def zip_files(ids: pd.Series) -> pd.Series:
        import os
        import sys

        import pyspark

        head, sep, _ = pyspark.__file__.partition(".zip")
        importer = sys.path_importer_cache.get(head + sep)
        files = id(importer._files) if importer is not None else None
        return pd.Series([f"{os.getpid()} {files}"] * len(ids))

    seen: dict[str, str] = {}
    for _ in range(32):  # more sequential tasks than there are idle workers
        pid, files = spark.range(1, numPartitions=1).select(zip_files("id")).first()[0].split()
        if files == "None":
            pytest.skip("the workers do not import pyspark from a zip archive")
        if pid in seen:
            assert files == seen[pid], "a worker re-read pyspark.zip between two tasks"
            return
        seen[pid] = files
    pytest.fail(f"no worker ran two tasks: {sorted(seen)}")
