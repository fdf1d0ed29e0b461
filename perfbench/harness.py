"""Shared plumbing: the run context, Spark session start and stop, the
timed loop's statistics, peak RSS and the result line."""

from __future__ import annotations

import json
import os
import shlex
import shutil
import statistics
import time
from dataclasses import dataclass, field

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")) as _fh:
    SPEC = json.load(_fh)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Ctx:
    root: str  # checkout root
    work: str  # scratch dir inside the checkout, removed at exit
    workload: str
    seed: int
    seconds: float
    trace: bool
    cpus: int = field(default_factory=nproc)
    spark: object = None
    tracer: object = None  # trace.Tracer in a traced run, else None
    jobs: object = None  # trace.JobCounter in a traced run, else None
    probes: list[float] = field(default_factory=list)  # host probe times, s
    _probe_ints: object = None  # the probe's input, a Java int[]

    def probe_host(self) -> None:
        """Times the host probe three times: ``Arrays.parallelSort`` of a
        copy of a fixed array of ints, on the JVM's fork-join pool. It
        keeps every core busy, as the workloads do, and runs none of
        Spark's or the engine's code. Called before each unit of work
        (warm-up ones too), off its clock."""
        n = SPEC["host_probe"]["ints"]
        arrays = self.spark._jvm.java.util.Arrays
        if self._probe_ints is None:
            self._probe_ints = self.spark._jvm.java.util.Random(7).ints(n).toArray()
        for _ in range(3):
            t0 = time.perf_counter()
            arrays.parallelSort(arrays.copyOf(self._probe_ints, n))
            self.probes.append(time.perf_counter() - t0)

    @property
    def host_scale(self) -> float:
        """The reference probe time over this run's median: multiplying a
        time by it (dividing a rate) states it at the reference host
        speed."""
        return SPEC["host_probe"]["reference_s"] / statistics.median(self.probes)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    @property
    def inputs(self) -> dict:
        return SPEC["workloads"][self.workload]["inputs"]


def prepare_env(ctx: Ctx) -> None:
    """Point every file Spark, the JVM and Python workers write at the
    checkout, and, for the traced run, enable the event log. Must run
    before the JVM starts."""
    shutil.rmtree(ctx.work, ignore_errors=True)
    tmp = ctx.path("tmp", "")
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cpus)
    os.environ["SPARK_LOCAL_DIRS"] = ctx.path("spark-local", "")
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ctx.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if ctx.trace:
        log_dir = ctx.path("eventlog", "")
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def start_spark(ctx: Ctx):
    from cses2humio_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """Peak RSS (``VmHWM``) of this Python process plus the JVM."""
    pids = [os.getpid(), int(spark._jvm.java.lang.ProcessHandle.current().pid())]
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it (the
    median when there are fewer than twenty), and its value."""
    n = len(values)
    if n < 20:
        return 50.0, statistics.median(values)
    pct = int(100 * (1 - 10 / n))
    return float(pct), statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


@dataclass
class Phase:
    """What one measured phase saw: per-op latency (and the op's kind,
    where ops come in kinds), the items and wall of each unit of work (a
    drain, a deck of queries, a decision), and failures."""

    op_s: list[float] = field(default_factory=list)
    kinds: list[str] = field(default_factory=list)  # parallel to op_s, or empty
    units: list[tuple[int, float]] = field(default_factory=list)  # (items, wall_s)
    attempted: int = 0
    failed: int = 0
    ops: list[dict] = field(default_factory=list)  # per-op records of a traced run

    def fail(self, reason: str) -> None:
        self.failed += 1
        print(f"FAILED: {reason}", flush=True)

    def kind_medians(self) -> dict[str, float]:
        by: dict[str, list[float]] = {}
        for kind, s in zip(self.kinds, self.op_s):
            by.setdefault(kind, []).append(s)
        return {kind: statistics.median(v) for kind, v in by.items()}

    def e2e(self) -> dict[str, float]:
        """Medians, so the host's bursts of slowness move them little:
        ``op_s_p50`` is the median op latency, or, where ops come in
        kinds of very different cost, the geometric mean of each kind's
        median (the plain median of such a mix jumps between kinds);
        ``items_per_s`` is the median over units of work of items per
        second of the unit's wall."""
        if self.kinds:
            op = statistics.geometric_mean(self.kind_medians().values())
        else:
            op = statistics.median(self.op_s)
        return {
            "op_s_p50": op,
            "items_per_s": statistics.median(n / w for n, w in self.units),
        }


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )


def cleanup(ctx: Ctx) -> None:
    shutil.rmtree(ctx.work, ignore_errors=True)
