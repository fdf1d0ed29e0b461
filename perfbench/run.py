"""Repository benchmark entry point.

    python3 perfbench/run.py --workload {ship,search,admit} --seed N \
        --seconds S --trace {0,1}

Generates every input from ``--seed``, sets up one Spark session on
``local[nproc]``, warms up, measures ops for ``--seconds`` and checks
every output. The last stdout line is one JSON object: the end-to-end
metrics with ``--trace 0``; with ``--trace 1`` the per-layer metrics of
the same phase run under tracing (see README.md).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.harness import (  # noqa: E402
    Ctx,
    Phase,
    cleanup,
    emit,
    peak_rss_mb,
    prepare_env,
    start_spark,
    stop_spark,
    tail_percentile,
)

def declared_units(kind: str) -> dict[str, str]:
    """Metric name -> unit of BENCHMARK.json's ``end_to_end`` or
    ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def workload_class(name: str):
    if name == "ship":
        from perfbench.ship import Ship

        return Ship
    if name == "search":
        from perfbench.search import Search

        return Search
    if name == "admit":
        from perfbench.admit import Admit

        return Admit
    raise ValueError(name)


def scheduler_and_executor_metrics(ops: list[dict], execs: list[dict]) -> dict[str, float]:
    n = sum(op["n"] for op in ops)
    out = {
        "spark_scheduler.jobs_per_op": sum(op["jobs"] for op in ops) / n,
        "spark_scheduler.stages_per_op": sum(op["stages"] for op in ops) / n,
        "spark_scheduler.tasks_per_op": sum(op["tasks"] for op in ops) / n,
    }
    for key in ("task_s", "gc_s", "deserialize_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"executors.{key}"] = sum(e[key] for e in execs) / n
    out["executors.input_rows_per_result_row"] = sum(e["input_rows"] for e in execs) / max(
        sum(op["result_rows"] for op in ops), 1
    )
    storage = [op["storage_mb"] for op in ops]
    out["executors.storage_mb"] = storage[-1]
    out["executors.storage_mb_per_op"] = (
        statistics.linear_regression(range(len(storage)), storage).slope if len(storage) > 1 else 0.0
    )
    phased = [op["phases"] for op in ops if "phases" in op]
    if phased:
        for ph in ("analysis", "optimization", "planning"):
            out[f"spark_planner.{ph}_ms"] = statistics.median(p[ph] for p in phased)
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ship", "search", "admit"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cses2humio_spark", "__init__.py")):
        print(f"perfbench: no cses2humio_spark package under {ROOT}", file=sys.stderr)
        return 2
    ctx = Ctx(
        root=ROOT,
        work=os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"),
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
    )
    prepare_env(ctx)
    spark = None
    try:
        spark = start_spark(ctx)
        wl = workload_class(args.workload)(ctx)
        warm = Phase()
        setup = wl.setup(warm)
        setup_s = time.perf_counter() - T_START
        print(f"setup: {setup_s:.2f} s {setup}", flush=True)

        if ctx.trace:
            from perfbench.trace import JobCounter, Tracer

            ctx.tracer, ctx.jobs = Tracer(), JobCounter(spark.sparkContext)
            wl.install_tracing()
        main = Phase()
        wl.measure(main)
        final = Phase()
        wl.final_checks(final)
        if ctx.trace:
            layers = wl.layer_metrics(main.ops)
            op_sets = {"": main.ops, **wl.traced_op_sets(main.ops)}
        rss = peak_rss_mb(spark)
    except Exception:  # noqa: BLE001 - report, then exit non-zero without a result
        traceback.print_exc()
        if spark is not None:
            stop_spark(spark)
        cleanup(ctx)
        return 1
    log_dir = os.path.join(ctx.work, "eventlog")
    stop_spark(spark)

    attempted = sum(p.attempted for p in (warm, main, final))
    failed = sum(p.failed for p in (warm, main, final))
    # stated at the reference host speed (README.md, "Host speed")
    scale = ctx.host_scale
    measured = {"setup_s": setup_s, **main.e2e()}
    e2e = {"op_s_p50": measured["op_s_p50"] * scale, "items_per_s": measured["items_per_s"] / scale}
    pct, tail = tail_percentile(main.op_s)
    print(
        f"host probe: median {1e3 * statistics.median(ctx.probes):.2f} ms over "
        f"{len(ctx.probes)}; scale {scale:.4f} to the reference host",
        flush=True,
    )
    print(f"setup_s = {setup_s * scale:.6g} s (measured {setup_s:.6g} s)", flush=True)
    for key, alias in wl.aliases.items():
        unit = wl.unit if key == "items_per_s" else "s"
        print(
            f"{args.workload}.{alias} = {e2e[key]:.6g} {unit} (measured {measured[key]:.6g} {unit})",
            flush=True,
        )
    print(f"{args.workload}.op_s_p{pct:g} = {tail:.6g} s over {len(main.op_s)} ops", flush=True)
    print(f"{args.workload}.failed_frac = {failed}/{attempted}", flush=True)
    print(f"peak_rss_mb = {rss:.1f} MB", flush=True)
    print(f"op_s: {[round(x, 3) for x in main.op_s]}", flush=True)
    print(f"items_per_s by unit: {[round(n / w, 2) for n, w in main.units]}", flush=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)

    if not ctx.trace:
        # the traced run of this workload takes its tracing overhead against these
        with open(os.path.join(out_dir, f"untraced-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(e2e, fh)
        metrics = {"setup_s": setup_s * scale, **e2e}
        units = declared_units("end_to_end")
        emit(failed == 0, attempted, failed, {k: (v, units[k]) for k, v in metrics.items()})
        cleanup(ctx)
        return 0

    from perfbench.trace import event_log_metrics

    all_ops = [op for ops in op_sets.values() for op in ops]
    execs = event_log_metrics(log_dir, [op["job_ids"] for op in all_ops])
    at = 0
    for prefix, ops in op_sets.items():
        part = execs[at : at + len(ops)]
        at += len(ops)
        if not prefix and args.workload == "ship" and any(e["shuffle_write_bytes"] for e in part):
            main.fail("ship wrote shuffle bytes: the narrow-map contract broke")
            failed += 1
        layers.update(
            {prefix + k: v for k, v in scheduler_and_executor_metrics(ops, part).items()}
        )
    ctx.tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    layers.update(
        {
            "e2e.peak_rss_mb": rss,
            "e2e.setup_s_measured": setup_s,
            "e2e.op_s_p50_measured": measured["op_s_p50"],
            "e2e.items_per_s_measured": measured["items_per_s"],
            "host.probe_ms": 1e3 * statistics.median(ctx.probes),
            "e2e.op_s_tail": tail,
            "e2e.tail_pct": pct,
            "e2e.ops": float(len(main.op_s)),
            "tracing.op_s_p50_traced": e2e["op_s_p50"],
            "tracing.items_per_s_traced": e2e["items_per_s"],
        }
    )
    layers.update(tracing_overhead(out_dir, args.workload, args.seed, e2e))
    units = declared_units("per_layer")
    missing = sorted(set(units) - set(layers))
    if missing:
        print(f"not measured on {args.workload} (reported as 0): {', '.join(missing)}", flush=True)
    metrics = {k: (float(layers.get(k, 0.0)), u) for k, u in units.items()}
    emit(failed == 0, attempted, failed, metrics)
    cleanup(ctx)
    return 0


def tracing_overhead(out_dir: str, workload: str, seed: int, traced: dict) -> dict[str, float]:
    """The traced run's end-to-end figures against an untraced run's on
    this checkout: the one with the same seed, else the median of every
    untraced run of the workload. Both runs pay for their own JVM and
    set-up; the traced one also for the event log, spans and Spark
    status calls."""
    same = os.path.join(out_dir, f"untraced-{workload}-{seed}.json")
    if os.path.isfile(same):
        paths = [same]
    else:
        paths = glob.glob(os.path.join(out_dir, f"untraced-{workload}-*.json"))
    if not paths:
        print(f"no untraced {workload} run on this checkout: tracing overhead not measured", flush=True)
        return {}
    runs = []
    for p in paths:
        with open(p) as fh:
            runs.append(json.load(fh))
    plain = {k: statistics.median(r[k] for r in runs) for k in ("op_s_p50", "items_per_s")}
    print(f"tracing overhead against {len(paths)} untraced run(s)", flush=True)
    return {
        "tracing.op_s_p50_untraced": plain["op_s_p50"],
        "tracing.items_per_s_untraced": plain["items_per_s"],
        "tracing.op_s_overhead_pct": 100 * (traced["op_s_p50"] / plain["op_s_p50"] - 1),
        "tracing.items_per_s_overhead_pct": 100 * (1 - traced["items_per_s"] / plain["items_per_s"]),
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
