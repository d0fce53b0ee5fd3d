"""Fixed cost of one Python task, measured in a ``build_session`` session.

Runs no-op ``mapInPandas`` jobs (one row per partition, so a task does
no work beyond PySpark's per-task set-up), then jobs whose tasks time
one call, and reports:

- ``worker_cpu_ms_per_task``: CPU (user + system) of the Python worker
  daemon's children per task, read from ``/proc``: the live workers'
  own time plus what the daemon reaped (its cutime + cstime);
- ``invalidate_caches_ms``: one ``importlib.invalidate_caches()`` call
  timed inside each task, the call PySpark's worker makes before every
  task (``pyspark.worker_util.setup_spark_files``).

A warm-up job runs first, so workers are forked and each importer's
first read is done before anything is timed.

    python scripts/probe_python_task_cost.py [--tasks 8] [--jobs 5] \
        [--out BENCH/python_task_cost.json] [--tag NAME]

Linux only (reads ``/proc``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; fields resume after ')'
        return f.read().rsplit(")", 1)[1].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def find_daemon() -> tuple[int, str]:
    """(pid, module) of the Python worker daemon below this process:
    the process started as ``python -m <module>`` whose module name
    ends in ``daemon``."""
    kids = _children()
    todo = [os.getpid()]
    while todo:
        for pid in kids.get(todo.pop(), ()):
            argv = _cmdline(pid).split()
            if "-m" in argv[:-1]:
                module = argv[argv.index("-m") + 1]
                if module.endswith("daemon"):
                    return pid, module
            todo.append(pid)
    raise RuntimeError("no Python worker daemon below this process")


def worker_cpu_ticks(daemon: int) -> int:
    """CPU ticks of the daemon's children: live ones' utime + stime,
    plus the daemon's cutime + cstime for the ones it has reaped."""
    fields = _stat_fields(daemon)
    total = int(fields[13]) + int(fields[14])
    for pid in _children().get(daemon, ()):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue  # exited since the listing; its time is in cutime
        total += int(f[11]) + int(f[12])
    return total


def _noop_job(spark, tasks: int) -> None:
    """One task per partition that passes its one row through."""
    spark.range(tasks, numPartitions=tasks).mapInPandas(
        lambda batches: batches, "id long").collect()


def _invalidate_job(spark, tasks: int) -> list[dict]:
    """One task per partition; each reports the ms of one
    ``importlib.invalidate_caches()`` call and its worker's state."""
    import pandas as pd

    def task(batches):
        import importlib
        import zipimport

        for pdf in batches:
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            ms = (time.perf_counter() - t0) * 1e3
            zips = sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
            yield pd.DataFrame({
                "id": pdf["id"], "ms": ms, "pid": os.getpid(),
                "zip_importers": zips,
                "patched_by": zipimport.zipimporter.invalidate_caches.__module__,
            })

    df = spark.range(tasks, numPartitions=tasks).mapInPandas(
        task, "id long, ms double, pid int, zip_importers int, patched_by string")
    return [r.asDict() for r in df.collect()]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--tasks", type=int, default=8)
    ap.add_argument("--jobs", type=int, default=5)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "python_task_cost.json"))
    ap.add_argument("--tag", default=None,
                    help="key of this run in --out (default: the commit)")
    args = ap.parse_args()

    from jsonld_js_spark.session import build_session

    spark = build_session("probe-python-task-cost", cores=args.cores,
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        _invalidate_job(spark, args.tasks)  # warm-up: fork workers, first reads
        daemon, module = find_daemon()
        per_task_ms = []
        for _ in range(args.jobs):
            before = worker_cpu_ticks(daemon)
            _noop_job(spark, args.tasks)
            after = worker_cpu_ticks(daemon)
            per_task_ms.append((after - before) / _TICK * 1e3 / args.tasks)
        rows = [r for _ in range(args.jobs)
                for r in _invalidate_job(spark, args.tasks)]
        call_ms = [r["ms"] for r in rows]
    finally:
        spark.stop()

    commit = subprocess.run(["git", "describe", "--always", "--dirty"], cwd=REPO,
                            capture_output=True, text=True).stdout.strip()
    record = {
        "commit": commit or None,
        "python": platform.python_version(),
        "cores": args.cores,
        "tasks_per_job": args.tasks,
        "jobs": args.jobs,
        "daemon_module": module,
        "invalidate_caches_patched_by": sorted({r["patched_by"] for r in rows}),
        "worker_pids": len({r["pid"] for r in rows}),
        "zip_importers_per_worker": sorted({r["zip_importers"] for r in rows}),
        "worker_cpu_ms_per_task": {
            "median": round(statistics.median(per_task_ms), 2),
            "per_job": [round(x, 2) for x in per_task_ms]},
        "invalidate_caches_ms": {
            "median": round(statistics.median(call_ms), 3),
            "max": round(max(call_ms), 3),
            "calls": len(call_ms)},
        "loadavg_1m": os.getloadavg()[0],
        "nproc": len(os.sched_getaffinity(0)),
    }
    print(json.dumps(record))
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
