"""Measure per-query SHUFFLE VOLUME (the scale currency wall-time hides):
run each bench headline query at $SPARK_GRAFT_SF_DIR under its own job
group, then read input/shuffle bytes per stage from the Spark UI REST API
and aggregate per query.

Why: at 100 TB the cost model is bytes moved, not local seconds — a query
that is fast at sf0.1 but shuffles its whole input will not survive the
scale-up. This probe turns "the shuffle carries only (key, partial)"
docstring claims into measured numbers (docs/SCALING.md table).

Usage: python scripts/shuffle_probe.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _api(ui: str, path: str):
    with urllib.request.urlopen(f"{ui}/api/v1/{path}") as r:  # noqa: S310
        return json.loads(r.read())


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    from pyspark.sql import SparkSession

    from bench import HEADLINE
    from cses2humio_spark.queries import QUERIES
    from cses2humio_spark.session import local_master, session_conf

    # the engine session factory disables the UI (tests don't need the
    # port); the REST metrics this probe reads live behind it — build the
    # same session with the UI forced on (spark.ui.enabled is a static
    # conf, so this must be the process's FIRST session)
    spark = (
        SparkSession.builder.appName("shuffle_probe")
        .master(local_master())
        .config(map={**session_conf(), "spark.ui.enabled": "true"})
        .getOrCreate()
    )
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    if not ui:
        raise SystemExit("Spark UI disabled — shuffle metrics unavailable")
    app_id = sc.applicationId

    # warm once so codegen/scan setup does not attribute to the first query;
    # the warmup ALSO runs each query at the measured sf_dir under a
    # sacrificial job group so one-time layout builds (the bucketed /
    # partitioned /tmp tables some queries write on first use) land outside
    # every measured group — the probe then measures steady-state bytes
    sc.setJobGroup("warmup", "warmup")
    for name in HEADLINE:
        if name in QUERIES:
            QUERIES[name](spark, "/root/testdata/sf0.001").collect()
            QUERIES[name](spark, sf_dir).collect()
    spark.catalog.clearCache()

    for name in HEADLINE:
        if name not in QUERIES:
            continue
        sc.setJobGroup(name, name)
        QUERIES[name](spark, sf_dir).collect()
        spark.catalog.clearCache()
    sc.setJobGroup("done", "done")

    jobs = _api(ui, f"applications/{app_id}/jobs?status=succeeded")
    stages = {
        s["stageId"]: s
        for s in _api(ui, f"applications/{app_id}/stages?status=COMPLETE")
    }
    per_query: dict[str, dict[str, int]] = {}
    seen_stages: dict[str, set[int]] = {}
    for job in jobs:
        group = job.get("jobGroup")
        if group not in QUERIES:
            continue
        acc = per_query.setdefault(
            group, {"input": 0, "shuffle_write": 0, "shuffle_read": 0}
        )
        seen = seen_stages.setdefault(group, set())
        for sid in job.get("stageIds", []):
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            st = stages[sid]
            acc["input"] += st.get("inputBytes", 0)
            acc["shuffle_write"] += st.get("shuffleWriteBytes", 0)
            acc["shuffle_read"] += st.get("shuffleReadBytes", 0)

    print("| query | input MB | shuffle-write MB | write/input |")
    print("|---|---|---|---|")
    for name in HEADLINE:
        if name not in per_query:
            continue
        m = per_query[name]
        mb = 1024 * 1024
        ratio = (
            f"{m['shuffle_write'] / m['input']:.3f}"
            if m["input"] > mb / 2
            else "—"  # sub-half-MB inputs make the ratio noise
        )
        print(
            f"| {name} | {m['input']/mb:.2f} | {m['shuffle_write']/mb:.3f} "
            f"| {ratio} |"
        )


if __name__ == "__main__":
    main()
