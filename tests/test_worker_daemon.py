"""The engine's Python worker daemon: a zipimporter re-reads its
archive's directory on ``importlib.invalidate_caches()`` only when the
archive changed on disk, every ``get_spark`` session forks its workers
from that daemon, and an operator's own daemon module is kept."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from elasticsearch_spark import worker_daemon
from elasticsearch_spark.session import DAEMON_MODULE, session_confs

_KEY = "spark.python.daemon.module"


def _write_zip(path, modules: dict[str, str]) -> None:
    # rewrites in place, so a rewrite keeps the archive's inode
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A temp zip on sys.path, the stat gate installed, and the list of
    ``_read_directory`` calls made on that zip."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"wd_alpha": "X = 1\n"})
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(a):
        if a == path:
            reads.append(a)
        return real(a)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(path)
    yield path, reads
    for name in ("wd_alpha", "wd_beta"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    worker_daemon._read_keys.pop(path, None)


def _reads_per_call(reads, calls: int) -> list[int]:
    out = []
    for _ in range(calls):
        before = len(reads)
        importlib.invalidate_caches()
        out.append(len(reads) - before)
    return out


def test_unchanged_archive_is_read_once(archive):
    path, reads = archive
    assert importlib.import_module("wd_alpha").X == 1
    assert _reads_per_call(reads, 5) == [1, 0, 0, 0, 0]
    assert isinstance(sys.path_importer_cache[path], zipimport.zipimporter)


def test_rewritten_archive_is_read_again(archive):
    path, reads = archive
    importlib.import_module("wd_alpha")
    assert _reads_per_call(reads, 2) == [1, 0]
    _write_zip(path, {"wd_alpha": "X = 1\n", "wd_beta": "Y = 2\n"})
    assert _reads_per_call(reads, 3) == [1, 0, 0]
    assert importlib.import_module("wd_beta").Y == 2


def test_deleted_archive_behaves_like_stock(archive, tmp_path):
    path, reads = archive
    importlib.import_module("wd_alpha")
    importlib.invalidate_caches()
    gated = sys.path_importer_cache[path]
    # a second importer on an identical archive, invalidated by the
    # stock method, is the reference
    ref_path = str(tmp_path / "ref.zip")
    _write_zip(ref_path, {"wd_alpha": "X = 1\n"})
    ref = zipimport.zipimporter(ref_path)
    os.remove(path)
    os.remove(ref_path)
    worker_daemon._stock_invalidate(ref)
    importlib.invalidate_caches()
    assert gated._files == ref._files == {}
    assert path not in zipimport._zip_directory_cache
    assert ref_path not in zipimport._zip_directory_cache
    with pytest.raises(ImportError):
        importlib.import_module("wd_beta")
    # recreated: read again, and the new module imports
    _write_zip(path, {"wd_beta": "Y = 3\n"})
    assert _reads_per_call(reads, 2) == [1, 0]
    assert importlib.import_module("wd_beta").Y == 3


def test_session_workers_skip_unchanged_archives(spark):
    assert spark.sparkContext.getConf().get(_KEY) == DAEMON_MODULE

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        reads = []
        real = zipimport._read_directory

        def counting(a):
            reads.append(a)
            return real(a)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)], "zips": [zips]})

    rows = (spark.range(0, 400, 1, 4)
            .mapInPandas(probe, "reads long, zips long").collect())
    assert len(rows) == 4
    assert all(r.zips > 0 for r in rows), rows  # the workers import from zips
    assert [r.reads for r in rows] == [0, 0, 0, 0]


def test_operator_daemon_module_is_kept(monkeypatch, tmp_path, capfd):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    monkeypatch.setenv(
        "PYSPARK_SUBMIT_ARGS",
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    assert session_confs(cores=4)[_KEY] == DAEMON_MODULE
    assert capfd.readouterr().err == ""

    monkeypatch.setenv(
        "PYSPARK_SUBMIT_ARGS",
        f"--conf {_KEY}=ops_daemon pyspark-shell")
    assert _KEY not in session_confs(cores=4)
    err = capfd.readouterr().err
    assert err.count("\n") == 1 and "re-read" in err

    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    (tmp_path / "spark-defaults.conf").write_text(
        f"# site defaults\n{_KEY}   ops_daemon\n")
    assert _KEY not in session_confs(cores=4)
    assert capfd.readouterr().err.count("\n") == 1
