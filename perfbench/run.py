"""The repository's benchmark: one closed loop (one client, one job at
a time) on local[nproc], from a single process.

    python3 perfbench/run.py --workload hybrid_extract --seed 42 \
        --seconds 6 --trace 0

``--workload all`` runs the three workloads one after another.
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones (plus the tracing overhead). The last
line of stdout is one JSON object: correct, attempted, failed, metrics.
Spans, telemetry and the full per-layer table of a run are written to
.perfbench/runs/<run id>/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

SPEC = os.path.join(harness.ROOT, "BENCHMARK.json")
INPUT_REPS = 3
NAMES = ("hybrid_extract", "lineage_canon_build", "battery_sf001")


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def run_workload(name: str, args, spec: dict) -> dict:
    from workloads import WORKLOADS, Ctx, kernel_probe

    cls = WORKLOADS[name]
    w = cls()
    run_id = (f"{name}-s{args.seed}-t{args.trace}-"
              f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    rundir = os.path.join(harness.WORK, "runs", run_id)
    workdir = os.path.join(rundir, "work")
    os.makedirs(workdir)
    telemetry = {"start": harness.box_telemetry()}
    tracer = harness.Tracer(run_id, enabled=bool(args.trace))
    rss = harness.RssSampler().start()
    cores = harness.nproc()
    spark, session_s = harness.start_session(cores)
    try:
        spark.sparkContext.setJobGroup(run_id, name)
        # --convs applies to the transcript workloads only
        convs = cls.default_convs and (args.convs or cls.default_convs)
        ctx = Ctx(spark, seed=args.seed, convs=convs, cores=cores,
                  tracer=tracer, workdir=workdir)
        input_s = []
        for _ in range(INPUT_REPS):
            t0 = time.perf_counter()
            w.prepare_input(ctx)
            input_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        w.warm_up(ctx)
        warm_s = time.perf_counter() - t0 - getattr(w, "oracle_s", 0.0)
        t0 = time.perf_counter()
        w.reference(ctx)
        reference_s = time.perf_counter() - t0
        # a traced run interleaves traced and untraced operations of
        # the same code; only the spans differ
        tracer.enabled = False
        tracer.alternate = bool(args.trace)
        telemetry["timed_start"] = harness.box_telemetry()
        harness.collect_heap(spark)
        with rss.window() as mem:
            timed = w.timed_region(ctx, args.seconds)
        heap_mb = harness.heap_peak_mb(spark)
        telemetry["timed_end"] = harness.box_telemetry()
        tracer.alternate = False
        ops = [o for o in timed if not o.traced]
        traced_ops = [o for o in timed if o.traced]
        wall_s = w.time_s(ops)
        if args.trace:
            tracer.enabled = True
            plans, pm, layer_detail = w.layer_metrics(ctx, traced_ops)
            with tracer.span("kernel.turn_to_quads"):
                kern = kernel_probe(args.seed)
        telemetry["end"] = harness.box_telemetry()
        n_failed_tasks = harness.failed_tasks(spark, run_id)
    finally:
        try:
            w.close()
        finally:
            harness.stop_session(spark)
            rss.close()
            shutil.rmtree(workdir, ignore_errors=True)

    failures = [o.error for o in timed if o.error is not None]
    # wall_s and triples_per_s print with every run; the bounded time
    # metric is cpu_s, which CPU steal on a shared host moves far less
    e2e = {
        "setup_s": session_s + statistics.median(input_s) + warm_s,
        "wall_s": wall_s,
        "cpu_s": w.time_s(ops, "cpu"),
        "triples_per_s": w.triples / wall_s,
        "peak_rss_mb": mem["peak_mb"],
    }
    detail: dict = {
        "setup.session_s": (session_s, "s"),
        "setup.input_s": (statistics.median(input_s), "s"),
        "setup.warm_up_s": (warm_s, "s"),
        "check.reference_s": (reference_s, "s"),
        "triples": (w.triples, "count"),
        "ops": ([round(o.wall, 4) for o in ops], "s"),
        "ops_cpu": ([round(o.cpu, 2) for o in ops], "s"),
        "peak_rss.driver_jvm_workers_mb": (mem["split_mb"], "MB"),
        "jvm.heap_peak_used_mb": (heap_mb, "MB"),
        "box.steal_share": (harness.steal_share(
            telemetry["timed_start"], telemetry["timed_end"]), "ratio"),
    }
    layer: dict = {}
    missing: list = []
    if args.trace:
        layer = {k: e2e[k] for k in ("wall_s", "triples_per_s")}
        layer.update({f"pipeline.{k}": v for k, v in pm.items()})
        layer["pipeline.rows_per_kernel_task"] = (
            pm["rows_kernel"] / pm["kernel_tasks"] if pm["kernel_tasks"]
            else 0.0)
        layer["sources.input_s"] = statistics.median(input_s)
        layer.update(kern)
        layer["spark.failed_tasks"] = n_failed_tasks
        plan_pm = [harness.pipeline_metrics(p) for p in plans]
        layer["spark.shuffle_mb"] = sum(m["shuffle_mb"] for m in plan_pm)
        layer["spark.spill_mb"] = sum(m["spill_mb"] for m in plan_pm)
        traced_wall_s = w.time_s(traced_ops)
        layer["trace.overhead_s"] = traced_wall_s - wall_s
        missing = [k for k in cls.detail if k not in layer_detail]
        detail.update({k: (v, cls.detail[k]) for k, v in layer_detail.items()})
        detail.update({f"self.{k}_s": (v, "s")
                       for k, v in tracer.self_times().items()})
        detail["trace.traced_wall_s"] = (traced_wall_s, "s")
        detail["trace.untraced_wall_s"] = (wall_s, "s")
        tracer.write(os.path.join(rundir, "spans.jsonl"))

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted if m["name"] in values}
    missing += [m["name"] for m in wanted if m["name"] not in values]
    result = {
        "correct": not failures and not missing,
        "attempted": len(timed),
        "failed": len(failures),
        "metrics": metrics,
    }
    report = {"run_id": run_id, "workload": name, "seed": args.seed,
              "trace": args.trace, "seconds": args.seconds,
              "convs": ctx.convs, "nproc": cores, "result": result,
              "fail_rate": len(failures) / len(timed),
              "failures": failures, "missing_metrics": missing,
              "telemetry": telemetry,
              "detail": {k: {"value": v, "unit": u}
                         for k, (v, u) in detail.items()}}
    with open(os.path.join(rundir, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    _print_table(report, e2e, spec)
    return result


def _print_table(report: dict, e2e: dict, spec: dict) -> None:
    start = report["telemetry"]["start"]
    print(f"== {report['workload']}  seed {report['seed']}  trace "
          f"{report['trace']}  convs {report['convs']}  run {report['run_id']}")
    print(f"   box at start: loadavg_1m {start['loadavg_1m']} (nproc "
          f"{start['nproc']}), runnable/total {start['runnable_over_total']}, "
          f"MHz min {start.get('cpu_mhz_min')} mean {start.get('cpu_mhz_mean')}"
          + ("  [LOADED: loadavg above nproc]" if start["loaded"] else ""))
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    for k, v in e2e.items():
        print(f"   {k:<34} {_fmt(v):>14} {units.get(k, '')}")
    n_fail, n = report["result"]["failed"], report["result"]["attempted"]
    print(f"   {'fail_rate':<34} {_fmt(n_fail / n):>14} ratio "
          f"({n_fail}/{n} operations failed)")
    for msg in report["failures"][:5]:
        print(f"   FAILED: {msg}")
    for k, m in report["result"]["metrics"].items():
        if k not in e2e:
            print(f"   {k:<34} {_fmt(m['value']):>14} {m['unit']}")
    for k, m in report["detail"].items():
        if isinstance(m["value"], (int, float)) and k not in e2e:
            print(f"   {k:<34} {_fmt(m['value']):>14} {m['unit']}")
    if report["missing_metrics"]:
        print(f"   MISSING: {report['missing_metrics']}")
    sys.stdout.flush()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*NAMES, "all"))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--convs", type=int, default=None,
                    help="conversations in the transcript corpus (default: "
                         "512 for hybrid_extract, 250 for "
                         "lineage_canon_build; 100000 is the headline size)")
    args = ap.parse_args(argv)

    # the engine under test is the checkout's own copy, never an
    # installed one
    if not os.path.isfile(os.path.join(harness.ROOT, "jsonld_js_spark",
                                       "__init__.py")):
        print(f"perfbench: the engine package jsonld_js_spark is not in "
              f"{harness.ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, harness.ROOT)
    with open(SPEC) as f:
        spec = json.load(f)
    harness.prepare_env()

    names = NAMES if args.workload == "all" else (args.workload,)
    results = {n: run_workload(n, args, spec) for n in names}
    if len(results) == 1:
        final = results[names[0]]
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": m for n, r in results.items()
                        for k, m in r["metrics"].items()},
        }
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
