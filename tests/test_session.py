"""The Python worker daemon ``get_spark`` sessions start workers from."""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport
from collections import Counter

import pytest

from cses2humio_spark.session import PYDAEMON_DIR


def _load_daemon():
    """Import the daemon module without running its ``__main__`` block,
    so ``zipimporter.invalidate_caches`` stays unpatched in this process."""
    path = os.path.join(PYDAEMON_DIR, "spark_graft_daemon.py")
    spec = importlib.util.spec_from_file_location("spark_graft_daemon_under_test", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_reused_worker_keeps_zip_directories(spark):
    def zip_probe(_):
        # defined here so it ships by value: workers cannot import tests
        import importlib
        import os
        import sys
        import zipimport

        imps = [
            v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)
        ]
        before = [v._files for v in imps]
        importlib.invalidate_caches()
        kept = all(v._files is b for v, b in zip(imps, before))
        # no importer re-read an unchanged archive in this worker's life,
        # its first task included
        shared = all(v._files is zipimport._zip_directory_cache.get(v.archive) for v in imps)
        return [(os.getpid(), len(imps), kept and shared)]

    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == "spark_graft_daemon"
    # 2x the task slots in one job: some worker runs at least two tasks
    n = 2 * sc.defaultParallelism
    runs = sc.parallelize(range(n), n).mapPartitions(zip_probe).collect()
    assert len(runs) == n
    assert max(Counter(pid for pid, _, _ in runs).values()) >= 2
    assert all(n_imps > 0 for _, n_imps, _ in runs)
    assert all(kept for _, _, kept in runs), runs


def test_daemon_directory_holds_only_the_daemon():
    names = {n for n in os.listdir(PYDAEMON_DIR) if n != "__pycache__"}
    assert names == {"spark_graft_daemon.py"}


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def temp_zip(tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"old_mod": "X = 1\n"})
    yield path
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def count_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(temp_zip, count_reads):
    daemon = _load_daemon()
    imp = zipimport.zipimporter(temp_zip)
    files = imp._files
    daemon.stamp_importers([imp])
    count_reads.clear()
    for _ in range(3):
        daemon.invalidate_caches(imp)
    assert count_reads == []
    assert imp._files is files
    # the stock method, for contrast, re-reads on every call
    zipimport.zipimporter.invalidate_caches(imp)
    assert count_reads == [temp_zip]


def test_rewritten_archive_is_reread(temp_zip, count_reads):
    daemon = _load_daemon()
    imp = zipimport.zipimporter(temp_zip)
    other = zipimport.zipimporter(temp_zip)  # shares the cached directory
    daemon.stamp_importers([imp, other])
    assert imp.find_spec("new_mod") is None
    count_reads.clear()
    old = os.stat(temp_zip)
    _write_zip(temp_zip, {"old_mod": "X = 1\n", "new_mod": "Y = 2\n"})
    os.utime(temp_zip, ns=(old.st_atime_ns, old.st_mtime_ns + 1_000_000))
    daemon.invalidate_caches(imp)
    assert count_reads == [temp_zip]
    spec = imp.find_spec("new_mod")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2
    # one re-read serves every importer of the archive, then it is current
    daemon.invalidate_caches(other)
    daemon.invalidate_caches(imp)
    assert count_reads == [temp_zip]
    assert other._files is imp._files
    assert other.find_spec("new_mod") is not None


def test_deleted_archive_drops_cache_entry(temp_zip):
    daemon = _load_daemon()
    imp = zipimport.zipimporter(temp_zip)
    daemon.stamp_importers([imp])
    assert temp_zip in zipimport._zip_directory_cache
    os.remove(temp_zip)
    daemon.invalidate_caches(imp)
    assert temp_zip not in zipimport._zip_directory_cache
    assert imp._files == {}
    assert imp.find_spec("old_mod") is None
