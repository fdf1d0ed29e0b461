"""Profile one query with the Spark event log: run N passes, then parse
the event log for per-job wall, task count, task time, GC time,
deserialize time and shuffle bytes. The event log is written to a
temporary directory, which is removed once parsed.

Each pass is split into its build (the query function returning its
DataFrame: plan construction on the driver, plus any action a
side-effecting query runs while it builds) and its run (``collect``);
the build's driver→JVM py4j commands are counted, so a plan that costs
hundreds of round trips to construct shows up before any job runs.
Usage:

    SPARK_GRAFT_CPUS=32 python scripts/profile_query.py <query> [n]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _count_py4j_commands() -> list[int]:
    """Count every command the driver sends to the JVM from now on;
    returns the one-element counter."""
    import py4j.clientserver as cs

    sent = [0]
    real = cs.ClientServerConnection.send_command

    def counting(self, command):
        sent[0] += 1
        return real(self, command)

    cs.ClientServerConnection.send_command = counting
    return sent


def main() -> None:
    name = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = tempfile.mkdtemp(prefix="spark-events-")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "32")

    from pyspark.sql import SparkSession

    from cses2humio_spark.queries import QUERIES
    from cses2humio_spark import session as sess

    spark = (
        SparkSession.builder.appName("profile")
        .master(sess.local_master())
        .config(
            map={
                **sess.session_conf(),
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        .getOrCreate()
    )
    spark.range(1).collect()
    sent = _count_py4j_commands()
    fn = QUERIES[name]
    fn(spark, "/root/testdata/sf0.001").collect()
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    marks = []
    for i in range(n):
        spark.sparkContext.setJobDescription(f"PASS{i}:{name}")
        calls0 = sent[0]
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        build_calls = sent[0] - calls0
        df.collect()
        t2 = time.perf_counter()
        del df
        marks.append(
            {
                "build_s": round(t1 - t0, 3),
                "run_s": round(t2 - t1, 3),
                "build_py4j_calls": build_calls,
            }
        )
        spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    app_id = spark.sparkContext.applicationId
    spark.stop()
    print("WALLS", json.dumps(marks))

    # parse event log
    path = os.path.join(evdir, app_id)
    jobs = {}  # job_id -> dict
    stage_to_job = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                desc = e.get("Properties", {}).get(
                    "spark.job.description", ""
                )
                jobs[jid] = {
                    "desc": desc,
                    "t0": e["Submission Time"],
                    "stages": set(e.get("Stage IDs", [])),
                    "task_ms": 0,
                    "gc_ms": 0,
                    "sh_read": 0,
                    "sh_write": 0,
                    "n_tasks": 0,
                    "deser_ms": 0,
                }
                for s in e.get("Stage IDs", []):
                    stage_to_job[s] = jid
            elif ev == "SparkListenerJobEnd":
                jid = e["Job ID"]
                if jid in jobs:
                    jobs[jid]["t1"] = e["Completion Time"]
            elif ev == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                jid = stage_to_job.get(sid)
                if jid is None:
                    continue
                j = jobs[jid]
                ti = e.get("Task Info", {})
                tm = e.get("Task Metrics") or {}
                j["n_tasks"] += 1
                dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                j["task_ms"] += dur
                j["gc_ms"] += tm.get("JVM GC Time", 0)
                j["deser_ms"] += tm.get("Executor Deserialize Time", 0)
                srm = tm.get("Shuffle Read Metrics") or {}
                swm = tm.get("Shuffle Write Metrics") or {}
                j["sh_read"] += srm.get("Remote Bytes Read", 0) + srm.get(
                    "Local Bytes Read", 0
                )
                j["sh_write"] += swm.get("Shuffle Bytes Written", 0)
    shutil.rmtree(evdir)

    # aggregate per pass
    per_pass: dict[str, dict] = {}
    for jid, j in sorted(jobs.items()):
        d = j["desc"] or "(none)"
        key = d.split(":")[0] if d.startswith("PASS") else d[:40]
        p = per_pass.setdefault(
            key,
            {
                "wall_ms": 0,
                "task_ms": 0,
                "gc_ms": 0,
                "n_jobs": 0,
                "n_tasks": 0,
                "sh_read": 0,
                "sh_write": 0,
                "deser_ms": 0,
            },
        )
        if "t1" in j:
            p["wall_ms"] += j["t1"] - j["t0"]
        p["task_ms"] += j["task_ms"]
        p["gc_ms"] += j["gc_ms"]
        p["n_jobs"] += 1
        p["n_tasks"] += j["n_tasks"]
        p["sh_read"] += j["sh_read"]
        p["sh_write"] += j["sh_write"]
        p["deser_ms"] += j["deser_ms"]
    print("PERPASS " + json.dumps(per_pass, indent=1))
    # per-job detail of slowest pass
    slow = max(
        (k for k in per_pass if k.startswith("PASS")),
        key=lambda k: per_pass[k]["wall_ms"],
        default=None,
    )
    fast = min(
        (k for k in per_pass if k.startswith("PASS")),
        key=lambda k: per_pass[k]["wall_ms"],
        default=None,
    )
    for tag, key in (("SLOW", slow), ("FAST", fast)):
        if key is None:
            continue
        print(f"--- {tag} {key} jobs ---")
        for jid, j in sorted(jobs.items()):
            if not j["desc"].startswith(key):
                continue
            wall = (j.get("t1", j["t0"]) - j["t0"]) / 1000
            print(
                f"job {jid}: wall={wall:7.3f}s tasks={j['n_tasks']:4d} "
                f"task_sum={j['task_ms']/1000:8.2f}s gc={j['gc_ms']/1000:6.2f}s "
                f"deser={j['deser_ms']/1000:6.2f}s "
                f"shR={j['sh_read']//1024}K shW={j['sh_write']//1024}K"
            )


if __name__ == "__main__":
    main()
