"""The session factory's confs and the Python worker daemon ``get_spark``
sessions start workers from."""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport
from collections import Counter

import pytest

from cses2humio_spark.session import PYDAEMON_DIR, session_conf

DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


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


def test_dataframe_debugging_off_in_every_session_conf(spark):
    assert session_conf()[DEBUGGING] == "false"
    assert session_conf(local=False)[DEBUGGING] == "false"
    assert spark.conf.get(DEBUGGING) == "false"


@pytest.fixture
def py4j_calls(monkeypatch):
    """``calls(build)``: the fewest driver→JVM commands ``build()`` sent
    over three runs (the first run is a warm-up; py4j's own object
    release commands land at random and only ever add)."""
    import py4j.clientserver as cs

    sent = [0]
    real = cs.ClientServerConnection.send_command

    def counting(self, command):
        sent[0] += 1
        return real(self, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)

    def calls(build) -> int:
        build()
        counts = []
        for _ in range(3):
            before = sent[0]
            build()
            counts.append(sent[0] - before)
        return min(counts)

    return calls


def test_ship_frame_builds_in_few_round_trips(spark, tmp_path, py4j_calls):
    from cses2humio_spark.sources.event_source import ndjson_stream
    from cses2humio_spark.streaming.pipeline import enrich_events, parse_events

    line = '{"metadata":{"offset":1,"eventCreationTime":1},"event":{"a":"1"}}'
    (tmp_path / "part-0.ndjson").write_text(line + "\n")
    n = py4j_calls(
        lambda: enrich_events(
            parse_events(ndjson_stream(spark, str(tmp_path), max_files_per_trigger=4)),
            app_id="a",
            with_metadata=True,
            host="h",
        )
    )
    # 669 with DataFrame debugging on and a Python-lambda KV fold; 125
    # with both off. A third of 669 leaves room for harmless additions.
    assert n <= 223, n


def test_hql_compiles_in_few_round_trips(spark, py4j_calls):
    from pyspark.sql import functions as F

    from cses2humio_spark.hql import hql

    df = spark.range(10).select(
        F.lit("x").alias("event_type"), F.col("id").alias("user_id")
    )
    n = py4j_calls(lambda: hql(df, "#event_type = x | groupBy(user_id)"))
    # 121 with DataFrame debugging on, 31 with it off
    assert n <= 60, n


def test_hql_runtime_error_keeps_its_class(spark):
    from pyspark.errors import ArithmeticException
    from pyspark.sql import functions as F

    from cses2humio_spark.hql import hql

    df = spark.range(3).select(F.lit("x").alias("event_type"), F.col("id").alias("user_id"))
    ansi = "spark.sql.ansi.enabled"
    was = spark.conf.get(ansi)
    spark.conf.set(ansi, "true")
    try:
        with pytest.raises(ArithmeticException) as err:
            hql(df, "x := user_id / 0").collect()
    finally:
        spark.conf.set(ansi, was)
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
    assert err.value.getSqlState() == "22012"
