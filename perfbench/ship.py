"""``ship``: a connector catch-up drain.

A seeded Falcon NDJSON backlog is drained by ``run_pipeline`` with
``available_now=True``, ``max_files_per_trigger`` = nproc (so at most
nproc source partitions per micro-batch) and an ``HttpBulkSink`` whose
``post_fn`` belongs to the benchmark. Each measured drain restarts from
an empty checkpoint over the same backlog. An op is one micro-batch.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from perfbench import gen
from perfbench.digest import DIGEST_MOD, event_digest
from perfbench.harness import Ctx, Phase

#: progress duration keys -> per-layer metric names
_DURATIONS = {
    "latestOffset": "sources.event_source.latest_offset_ms",
    "getBatch": "sources.event_source.get_batch_ms",
    "queryPlanning": "streaming.pipeline.query_planning_ms",
    "addBatch": "streaming.pipeline.add_batch_ms",
    "walCommit": "streaming.pipeline.wal_commit_ms",
    "commitOffsets": "streaming.pipeline.commit_offsets_ms",
}


def make_post_fn(acc: dict, spool: str):
    """The sink's transport: serialize the bulk body as an HTTP client
    would and hand it off to a spool file, one per Python worker; count
    the chunks and time the posting through accumulators. What was
    delivered is read back from the spool after the drain, off the
    clock (``read_spool``)."""

    def post(body):
        import json as _json
        import os as _os
        import time as _time

        t0 = _time.perf_counter()
        payload = _json.dumps(body)
        with open(_os.path.join(spool, f"{_os.getpid()}.ndjson"), "a") as fh:
            fh.write(payload + "\n")
        acc["post_s"].add(_time.perf_counter() - t0)
        acc["chunks"].add(1)

    return post


def read_spool(spool: str) -> tuple[int, int]:
    """Count and order-independent digest of every event in the spool,
    which is emptied."""
    n = digest = 0
    for name in os.listdir(spool):
        path = os.path.join(spool, name)
        with open(path) as fh:
            for line in fh:
                for e in json.loads(line)[0]["events"]:
                    a = e["attributes"]
                    m = a["metadata"]
                    digest += event_digest(
                        e["rawstring"], m["offset"], e["timestamp"], m["eventType"], a["event"]
                    )
                    n += 1
        os.remove(path)
    return n, digest % DIGEST_MOD


class Ship:
    unit = "events/s"
    aliases = {"op_s_p50": "batch_s_p50", "items_per_s": "events_per_s"}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.drains = 0
        self.listener = None

    def setup(self, warm: Phase) -> dict:
        from cses2humio_spark.streaming.sinks import HttpBulkSink

        ctx, inp = self.ctx, self.ctx.inputs
        t0 = time.perf_counter()
        self.backlog = gen.ship_backlog(
            ctx.seed,
            inp["files"],
            inp["events_per_file"],
            inp["akv_share"],
            inp["malformed_share"],
            inp["blank_share"],
        )
        self.src = ctx.path("ship", "src", "")
        for i, text in enumerate(self.backlog.files):
            p = os.path.join(self.src, f"part-{i:05d}.ndjson")
            with open(p, "w") as fh:
                fh.write(text)
            # the file source orders batches by mtime: pin it
            os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        gen_s = time.perf_counter() - t0
        sc = self.ctx.spark.sparkContext
        self.acc = {"chunks": sc.accumulator(0), "post_s": sc.accumulator(0.0)}
        self.spool = ctx.path("ship", "spool", "")
        self.sink = HttpBulkSink(
            bulk_max_size=inp["bulk_max_size"], post_fn=make_post_fn(self.acc, self.spool)
        )
        for _ in range(inp["warmup_drains"]):  # JIT, codegen caches, Python workers
            self.drain(warm)
        return {"generate_s": gen_s, "warmup_s": sum(w for _, w in warm.units)}

    def drain(self, phase: Phase) -> None:
        from cses2humio_spark.sources.event_source import ndjson_stream
        from cses2humio_spark.streaming.pipeline import run_pipeline

        ctx = self.ctx
        spark = ctx.spark
        ctx.probe_host()
        ckpt = ctx.path("ship", f"ckpt-{self.drains}", "")
        self.drains += 1
        before = {k: a.value for k, a in self.acc.items()}
        group = f"perfbench-drain-{self.drains}"
        if ctx.jobs is not None:
            ctx.jobs.start(group)
        t0 = time.perf_counter()
        q = run_pipeline(
            ndjson_stream(spark, self.src, max_files_per_trigger=ctx.cpus),
            self.sink,
            ckpt,
            available_now=True,
        )
        try:
            q.awaitTermination()
            error = None
        except Exception as exc:  # noqa: BLE001 - a failed drain is a failed op
            error = exc
        wall = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        n_batches = max(len(progress), 1)
        phase.attempted += n_batches
        delivered, digest = read_spool(self.spool)
        if error is not None:
            reason = f"drain raised {error!r}"
        elif delivered != self.backlog.events or digest != self.backlog.digest:
            reason = (
                f"drain delivered {delivered} events (digest {digest}), "
                f"expected {self.backlog.events} ({self.backlog.digest})"
            )
        elif "Exchange" in q._jsq.streamingQuery().lastExecution().executedPlan().toString():
            reason = "the ship plan shuffles"
        else:
            reason = None
        if reason is not None:  # every batch of a bad drain counts as failed
            phase.failed += n_batches
            print(f"FAILED: {reason}", flush=True)
        phase.op_s += [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        phase.units.append((delivered, wall))
        if ctx.jobs is not None:
            counts = ctx.jobs.finish(group, extra_group=str(q.runId))
            phase.ops.append(
                {
                    **counts,
                    "n": len(progress),
                    "result_rows": delivered,
                    "progress": self.listener.wait_for(str(q.runId)),
                    "acc": {k: a.value - before[k] for k, a in self.acc.items()},
                }
            )

    def measure(self, phase: Phase) -> None:
        deadline = time.perf_counter() + self.ctx.seconds
        while time.perf_counter() < deadline:
            self.drain(phase)

    def install_tracing(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        class Listener(StreamingQueryListener):
            """Collects progress per run; ``wait_for`` blocks until a
            run's termination event has arrived (events are async)."""

            def __init__(self):
                self.progress: dict[str, list] = {}
                self.done: set[str] = set()

            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                self.progress.setdefault(str(p.runId), []).append(
                    {"rows": p.numInputRows, "durations": dict(p.durationMs)}
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                self.done.add(str(event.runId))

            def wait_for(self, run_id: str, timeout: float = 30.0) -> list:
                deadline = time.perf_counter() + timeout
                while run_id not in self.done and time.perf_counter() < deadline:
                    time.sleep(0.01)
                return [p for p in self.progress.get(run_id, []) if p["rows"] > 0]

        self.listener = Listener()
        self.ctx.spark.streams.addListener(self.listener)

    def final_checks(self, phase: Phase) -> None:
        pass

    def traced_op_sets(self, ops: list[dict]) -> dict[str, list[dict]]:
        return {}

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        progress = [p for op in ops for p in op["progress"]]
        out = {
            name: statistics.median(p["durations"].get(key, 0) for p in progress)
            for key, name in _DURATIONS.items()
        }
        rows = sum(p["rows"] for p in progress)
        events = sum(op["result_rows"] for op in ops)
        chunks = sum(op["acc"]["chunks"] for op in ops)
        out.update(
            {
                "sources.event_source.rows_per_batch": rows / len(progress),
                "streaming.pipeline.keep_ratio": events / rows,
                "streaming.sinks.post_s": sum(op["acc"]["post_s"] for op in ops) / len(progress),
                "streaming.sinks.chunks": chunks / len(progress),
                "streaming.sinks.events_per_chunk": events / chunks,
                # a post that raises fails its task
                "streaming.sinks.failed_chunks": float(sum(op["failed_tasks"] for op in ops)),
            }
        )
        return out
