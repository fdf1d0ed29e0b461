"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``),
but every conf below is chosen for the 1000-executor / 100 TB posture:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  join-strategy demotion) so plans re-optimize from real stats.
- Broadcast threshold high enough that TPC-H-style dimension tables
  (region/nation/supplier/part at any SF where they fit) broadcast instead
  of shuffling the fact side.
- Arrow enabled for the few Pandas-UDF code paths (vector math, stateful
  streaming) so Python transfer is columnar, never per-row pickling.
- Shuffle partitions sized for the local harness; on a real cluster this is
  overridden (and AQE coalescing makes the initial number far less
  critical than static Spark).
- Python workers start from ``pydaemon/spark_graft_daemon.py``, which is
  ``pyspark.daemon`` except that a zip archive on the worker path has its
  directory re-read only when the archive changed on disk (stock workers
  re-read ``pyspark.zip`` before every task, ~0.28 s of CPU each). Only
  that directory joins the worker path, so UDF closures must still be
  self-contained.
- Streaming checkpoint logs (file-source log, offsets WAL, commits,
  metadata, state-store deltas) are written through Hadoop ``FileSystem``,
  not the default ``FileContext`` manager. On the local filesystem without
  ``libhadoop``, FileContext's rename stats each path with
  ``getFileLinkStatus``, which forks a ``readlink`` process four times per
  log write; ``FileSystem.rename`` is one ``rename(2)``, and the manager
  still checks for an existing batch file first, so a log entry is never
  overwritten. Cluster sessions keep FileContext's atomic rename on HDFS.
- PySpark's DataFrame debugging is off, local and cluster alike. With it
  on, every ``pyspark.sql.functions`` call and Column method makes extra
  driver→JVM round trips (active-session lookup, a reflective lookup of
  ``PySparkCurrentOrigin``, a conf read, origin set and clear) plus a
  Python stack walk, only to put a Python call site into error text —
  and for HQL and connector plans that call site is an engine frame,
  not the user's query. Errors keep their error class and SQL state.
  PySpark reads the conf once per process, at the first Column call.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


# holds only spark_graft_daemon.py, so putting it on the worker path
# exposes nothing else to Python workers
PYDAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pydaemon")


def session_conf(local: bool = True) -> dict[str, str]:
    """Every conf ``get_spark`` sets, as one mapping; scripts that need a
    variant session (event log, UI) extend it instead of copying it.

    ``local=False`` leaves out the worker daemon, whose directory is a path
    on this machine that a cluster's executors do not have, and the
    ``FileSystem`` checkpoint manager, so HDFS checkpoints keep
    FileContext's atomic rename."""
    conf = {
        "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    if local:
        conf["spark.python.daemon.module"] = "spark_graft_daemon"
        conf["spark.executorEnv.PYTHONPATH"] = PYDAEMON_DIR
        conf["spark.sql.streaming.checkpointFileManagerClass"] = (
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
        )
    return conf


def local_master() -> str:
    return f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"


def get_spark(app_name: str = "cses2humio_spark") -> SparkSession:
    return (
        SparkSession.builder.appName(app_name)
        .master(local_master())
        .config(map=session_conf())
        .getOrCreate()
    )


def evict_on_gc(result_df, *cached_dfs):
    """Tie a persisted helper frame's cache lifetime to the RESULT frame.

    Query functions return lazy DataFrames, so a helper ``.persist()``
    that the plan still references cannot be unpersisted inside the
    function — but leaving it cached for the session is a slow leak in a
    long-lived engine process: storage grows with every query served.
    This registers a ``weakref.finalize`` on the result: once the caller
    drops the result (after collecting it), the next GC evicts the helper
    caches. Best-effort by design — eviction after session stop, or at
    interpreter exit, is silently skipped.

    The callback captures only the JVM dataset handles, NEVER the Python
    DataFrames: ``weakref.finalize``'s documented contract is that the
    callback must not reference the referent, or the referent stays
    reachable from the live finalizer registry and can never be
    collected. The admission loop legitimately ties a persisted frame's
    cache to ITSELF (``evict_on_gc(decisions, decisions)``), which under
    a Python-object capture would silently pin the frame forever;
    holding ``df._jdf`` instead keeps the self-referencing case
    collectable. Pinned by
    ``tests/test_dedup_index.py::test_evict_on_gc_self_reference``.
    """
    import weakref

    handles = [df._jdf for df in cached_dfs]

    def _evict():
        for jdf in handles:
            try:
                jdf.unpersist()
            except Exception:  # noqa: BLE001 - session may already be gone
                pass

    weakref.finalize(result_df, _evict)
    return result_df
