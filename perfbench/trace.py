"""Traced-run tooling: spans around calls into the engine's layers, Spark
scheduler counts per op, Spark's planner phases, and the executor
metrics parsed from the Spark event log.

Everything here observes the engine from outside: it wraps public
functions and reads Spark's own status APIs. None of it runs in the
untraced measurement.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A span is ``[name, start, end, parent,
    op]``; ``parent`` is the index of the enclosing span, ``op`` the id of
    the benchmark op it ran under. Spans are written out by ``dump``."""

    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx][2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class method)
        with a wrapper that records a span around each call."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)

    def durations(self, name: str, ops: list[dict] | None = None) -> list[float]:
        """Durations of the named spans; with ``ops`` (``JobCounter``
        records), only those recorded inside one of those ops."""
        groups = None if ops is None else {op["group"] for op in ops}
        return [
            s[2] - s[1]
            for s in self.spans
            if s[0] == name and s[2] is not None and (groups is None or s[4] in groups)
        ]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for name, start, end, parent, op in self.spans:
                fh.write(
                    json.dumps(
                        {"name": name, "start": start, "end": end, "parent": parent, "op": op}
                    )
                    + "\n"
                )


class JobCounter:
    """Jobs, stages and tasks Spark ran for one op, from ``statusTracker``,
    and the executor storage in use after it.

    An op's jobs are the new ids in its job group plus the new ids in
    no group (jobs submitted from threads that do not inherit the group,
    such as a streaming sink's callback thread)."""

    def __init__(self, sc):
        self.sc = sc
        self.seen: set[int] = set()

    def _ids(self, group: str | None) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def start(self, group: str) -> None:
        self.seen |= self._ids(None)
        self.sc.setJobGroup(group, group)

    def finish(self, group: str, extra_group: str | None = None) -> dict:
        st = self.sc.statusTracker()
        ids = self._ids(group) | self._ids(None)
        if extra_group is not None:
            ids |= self._ids(extra_group)
        ids -= self.seen
        self.seen |= ids
        stages = tasks = failed = 0
        for j in ids:
            info = st.getJobInfo(j)
            for s in info.stageIds if info is not None else ():
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return {
            "group": group,
            "job_ids": sorted(ids),
            "jobs": len(ids),
            "stages": stages,
            "tasks": tasks,
            "failed_tasks": failed,
            "storage_mb": storage_mb(self.sc),
        }


def planner_phases(df) -> dict[str, float]:
    """Plan-phase times (ms) of an executed DataFrame, from
    ``queryExecution().tracker().phases()``."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    phases = df._jdf.queryExecution().tracker().phases()
    for name in out:
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = float(opt.get().durationMs())
    return out


def storage_mb(sc) -> float:
    """Storage memory in use across executors (MB), from
    ``getExecutorMemoryStatus`` (max minus remaining, summed)."""
    it = sc._jsc.sc().getExecutorMemoryStatus().iterator()
    used = 0
    while it.hasNext():
        mem = it.next()._2()
        used += mem._1() - mem._2()
    return used / 1e6


def event_log_metrics(log_dir: str, op_jobs: list[list[int]]) -> list[dict]:
    """Per-op executor metrics from the (uncompressed) Spark event log:
    tasks of the stages first listed by each op's jobs."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    job_op = {j: i for i, jobs in enumerate(op_jobs) for j in jobs}
    stage_op: dict[int, int] = {}
    out = [
        {
            "task_s": 0.0,
            "gc_s": 0.0,
            "deserialize_s": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "input_rows": 0,
        }
        for _ in op_jobs
    ]
    with open(paths[0]) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                op = job_op.get(e["Job ID"])
                for s in e.get("Stage IDs", []):
                    if s not in stage_op and op is not None:
                        stage_op[s] = op
                    stage_op.setdefault(s, -1)
            elif ev == "SparkListenerTaskEnd":
                op = stage_op.get(e["Stage ID"], -1)
                if op < 0:
                    continue
                tm = e.get("Task Metrics") or {}
                srm = tm.get("Shuffle Read Metrics") or {}
                swm = tm.get("Shuffle Write Metrics") or {}
                im = tm.get("Input Metrics") or {}
                m = out[op]
                m["task_s"] += tm.get("Executor Run Time", 0) / 1e3
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["deserialize_s"] += tm.get("Executor Deserialize Time", 0) / 1e3
                m["shuffle_read_bytes"] += srm.get("Remote Bytes Read", 0) + srm.get(
                    "Local Bytes Read", 0
                )
                m["shuffle_write_bytes"] += swm.get("Shuffle Bytes Written", 0)
                m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                m["input_rows"] += im.get("Records Read", 0)
    return out
