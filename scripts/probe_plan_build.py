"""Driver-side cost of building the hybrid extraction plan, per op.

Runs the ``hybrid_extract`` benchmark op on its corpus (``--convs``
synthesized conversations, one cached partition per core) and records,
for every op after ``--warmup`` untimed ones:

- ``build_ms`` and ``round_trips``: wall time and py4j commands sent
  while ``extract_triples_hybrid(tx)`` builds the plan (counted on the
  gateway client after a ``gc.collect()``, so pending object releases
  are not counted);
- ``build_py_cpu_ms``: the driver Python's CPU over the build;
- ``execute_ms``: the benchmark's wrapper (``observe`` + ``triples_only``)
  and one run of the plan (``queryExecution().toRdd().count()``).

Over all timed ops it also splits the CPU of the processes by thread
group, read from ``/proc``: the JVM's JIT compiler, executor task,
py4j gateway, GC and other threads, the driver Python and the Python
workers.

    python scripts/probe_plan_build.py [--root DIR] [--tag NAME] \
        [--ops 10] [--warmup 2] [--convs 512] [--seed 1] \
        [--out BENCH/plan_build.json]

``--root`` imports the engine from another checkout (for an A/B, e.g.
an exported copy of the parent commit). Linux only (reads ``/proc``).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from probe_python_task_cost import (  # noqa: E402  (sibling script)
    _TICK, _children, _cmdline, find_daemon, worker_cpu_ticks)

# /proc comm names (15 chars) of the JVM's threads, by group
_GROUPS = (
    ("jit", ("C2 CompilerThre", "C1 CompilerThre", "Sweeper thread")),
    ("executor_tasks", ("Executor task l",)),
    ("py4j_gateway", ("Thread-",)),
    ("gc", ("GC Thread", "G1 ", "VM Thread")),
)


def _group(comm: str) -> str:
    for name, prefixes in _GROUPS:
        if comm.startswith(prefixes):
            return name
    return "other"


def jvm_pid() -> int:
    for pid in _children().get(os.getpid(), ()):
        if "java" in _cmdline(pid).split(" ", 1)[0]:
            return pid
    raise RuntimeError("no JVM below this process")


def jvm_thread_ticks(pid: int) -> dict[str, tuple[str, int]]:
    """(name, CPU ticks: utime + stime) of each live JVM thread, by tid."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue  # the thread ended since the listing
        out[tid] = (comm, int(fields[11]) + int(fields[12]))
    return out


def split_cpu_s(before: dict, after: dict) -> dict[str, float]:
    """Per-group CPU seconds between two ``jvm_thread_ticks`` reads;
    threads that ended in between are not counted."""
    groups: dict[str, int] = {}
    for tid, (comm, ticks) in after.items():
        g = _group(comm)
        groups[g] = groups.get(g, 0) + ticks - before.get(tid, (comm, 0))[1]
    return {g: round(t / _TICK, 3) for g, t in sorted(groups.items())}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--root", default=REPO,
                    help="checkout whose engine is imported")
    ap.add_argument("--ops", type=int, default=10)
    ap.add_argument("--warmup", type=int, default=2)
    ap.add_argument("--convs", type=int, default=512)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "plan_build.json"))
    ap.add_argument("--tag", default=None,
                    help="key of this run in --out (default: the commit)")
    args = ap.parse_args()
    root = os.path.abspath(args.root)
    sys.path.insert(0, root)

    from pyspark.sql import functions as F

    from jsonld_js_spark.operators.pipeline import (
        extract_triples_hybrid, triples_only)
    from jsonld_js_spark.session import build_session
    from jsonld_js_spark.sources.transcripts import synthesize_transcripts

    spark = build_session("probe-plan-build", cores=args.cores,
                          shuffle_partitions=max(args.cores, 8),
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = [0]

    def counting(*a, **kw):
        sent[0] += 1
        return send(*a, **kw)

    tri_cols = ("conv_id", "turn_idx", "graph", "subj", "pred", "obj_kind",
                "obj_value", "obj_datatype", "obj_lang")

    def op() -> dict:
        gc.collect()
        sent[0] = 0
        client.send_command = counting
        t0, c0 = time.perf_counter(), time.process_time()
        try:
            extracted = extract_triples_hybrid(tx)
        finally:
            del client.send_command
        t1, c1 = time.perf_counter(), time.process_time()
        round_trips = sent[0]
        # the benchmark op's wrapper (perfbench/workloads.py), then a run
        df = triples_only(extracted.observe(
            "ext", F.count_if(F.col("kind") == "warning"))).observe(
            "tri", F.count(F.lit(1)),
            F.sum(F.pmod(F.xxhash64(*tri_cols), F.lit(2_147_483_647))))
        qe = df._jdf.queryExecution()
        qe.toRdd().count()
        t2 = time.perf_counter()
        tri = qe.observedMetrics().get("tri").get()
        return {"build_ms": round((t1 - t0) * 1e3, 1),
                "round_trips": round_trips,
                "build_py_cpu_ms": round((c1 - c0) * 1e3, 1),
                "execute_ms": round((t2 - t1) * 1e3, 1),
                "triples": tri.getLong(0), "fingerprint": tri.getLong(1)}

    try:
        tx = synthesize_transcripts(spark, args.convs, seed=args.seed,
                                    partitions=args.cores).cache()
        tx.count()
        for _ in range(args.warmup):
            op()
        jvm, (daemon, _) = jvm_pid(), find_daemon()
        threads0, workers0 = jvm_thread_ticks(jvm), worker_cpu_ticks(daemon)
        driver0 = time.process_time()
        ops = [op() for _ in range(args.ops)]
        driver_s = time.process_time() - driver0
        cpu = split_cpu_s(threads0, jvm_thread_ticks(jvm))
        cpu["driver_python"] = round(driver_s, 3)
        cpu["python_workers"] = round(
            (worker_cpu_ticks(daemon) - workers0) / _TICK, 3)
    finally:
        spark.stop()

    if len({(o["triples"], o["fingerprint"]) for o in ops}) != 1:
        raise SystemExit("ops disagree on (triples, fingerprint)")
    commit = subprocess.run(["git", "describe", "--always", "--dirty"],
                            cwd=root, capture_output=True, text=True
                            ).stdout.strip()

    def median(key):
        return round(statistics.median(o[key] for o in ops), 2)

    record = {
        "commit": commit or None,
        "python": platform.python_version(),
        "cores": args.cores,
        "convs": args.convs,
        "seed": args.seed,
        "warmup_ops": args.warmup,
        "triples": ops[0]["triples"],
        "median": {k: median(k) for k in (
            "build_ms", "round_trips", "build_py_cpu_ms", "execute_ms")},
        "cpu_s_per_op": {k: round(v / len(ops), 3) for k, v in cpu.items()},
        "ops": [{k: o[k] for k in ("build_ms", "round_trips",
                                    "build_py_cpu_ms", "execute_ms")}
                for o in ops],
        "loadavg_1m": os.getloadavg()[0],
        "nproc": len(os.sched_getaffinity(0)),
    }
    print(json.dumps({k: record[k] for k in (
        "commit", "median", "cpu_s_per_op")}))
    try:
        with open(args.out) as f:
            runs = json.load(f)
    except FileNotFoundError:
        runs = {}
    runs[args.tag or commit or "run"] = record
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(runs, f, indent=2)
        f.write("\n")


if __name__ == "__main__":
    main()
