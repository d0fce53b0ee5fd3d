"""Measurement plumbing for the benchmark: the working directory inside
the checkout, the Spark session's life cycle, box telemetry, peak memory
sampling, in-memory spans and executed-plan SQL metrics.

Nothing here imports the engine; ``workloads.py`` does.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the checkout, and make the engine importable by the
    workers (they inherit this environment)."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # spark-submit's launcher JVM: no hsperfdata file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:+PerfDisableSharedMem"


def box_telemetry() -> dict:
    """1-minute loadavg, runnable/total tasks, CPU MHz min and mean,
    nproc, and the box's cumulative CPU and steal jiffies (time the
    hypervisor gave this VM's CPUs to others); ``loaded`` flags a run
    that started with loadavg > nproc."""
    st: dict = {"nproc": nproc()}
    with open("/proc/loadavg") as f:
        parts = f.read().split()
    st["loadavg_1m"] = float(parts[0])
    st["runnable_over_total"] = parts[3]
    mhz = []
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("cpu MHz"):
                mhz.append(float(line.split(":")[1]))
    if mhz:
        st["cpu_mhz_min"] = min(mhz)
        st["cpu_mhz_mean"] = round(sum(mhz) / len(mhz), 1)
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:9]]
    st["cpu_jiffies"], st["steal_jiffies"] = sum(cpu), cpu[7]
    st["loaded"] = st["loadavg_1m"] > st["nproc"]
    return st


def steal_share(before: dict, after: dict) -> float:
    """Share of the box's CPU time stolen between two telemetry
    snapshots."""
    total = after["cpu_jiffies"] - before["cpu_jiffies"]
    return (after["steal_jiffies"] - before["steal_jiffies"]) / max(1, total)


# ---------------------------------------------------------------- processes

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this one): the JVM
    and, under it, the Python worker daemon and its forks."""
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process, the JVM
    and the Python workers, reaped workers included. The kernel
    charges a task only for time it ran, so time the hypervisor gave
    to other guests (steal) is not in it."""
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory, with each page shared
    by n processes counted 1/n in each, so the summed figure counts
    the pages the forked Python workers share with their daemon once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


class RssSampler:
    """Samples the summed resident memory (PSS) of this process and its
    descendants
    every ``interval`` seconds; ``window()`` brackets the timed region
    and yields a dict whose ``peak_mb`` is filled on exit."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._peak = (0, 0, 0, 0)
        self._active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _sample(self) -> tuple[int, int, int, int]:
        """(total, this process, JVM, Python workers) PSS in bytes;
        the JVM is this process's child, the workers are below it."""
        me = os.getpid()
        kids = _children_map()
        driver = _pss_bytes(me)
        jvm = workers = 0
        for child in kids.get(me, ()):
            jvm += _pss_bytes(child)
            todo = list(kids.get(child, ()))
            while todo:
                pid = todo.pop()
                workers += _pss_bytes(pid)
                todo.extend(kids.get(pid, ()))
        return driver + jvm + workers, driver, jvm, workers

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self._active:
                self._peak = max(self._peak, self._sample())

    @contextmanager
    def window(self):
        """``peak_mb`` is the peak total; ``split_mb`` the (driver,
        JVM, workers) memory of the sample that peaked."""
        out: dict = {}
        self._peak = self._sample()
        self._active = True
        try:
            yield out
        finally:
            self._active = False
            peak = max(self._peak, self._sample())
            out["peak_mb"] = peak[0] / 2**20
            out["split_mb"] = [round(b / 2**20, 1) for b in peak[1:]]


# ---------------------------------------------------------------- session

def start_session(cores: int):
    """The engine's own session builder, with the benchmark's
    checkout-local directories. Returns (spark, seconds)."""
    from jsonld_js_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(
        "jsonld-js-spark-perfbench", cores=cores,
        shuffle_partitions=max(cores, 8),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # PerfDisableSharedMem: no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                "-XX:+PerfDisableSharedMem",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM it launched and wait until every
    process this run started has exited (the Python workers are the
    JVM's children, so they are listed before the JVM goes away)."""
    from pyspark import SparkContext

    started = set(descendants())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        # the next session in this process launches a fresh JVM
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
    started |= set(descendants())
    if not _wait_gone(started, timeout):
        for pid in started:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _wait_gone(started, 10)
    if proc is not None:
        proc.wait(timeout=10)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: set[int], timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True


def _heap_pools(spark):
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory"]


def collect_heap(spark) -> None:
    """A full collection, after which the JVM gives surplus heap back
    to the OS: the timed region starts from the heap it needs, not
    from the size set-up left it at."""
    spark._jvm.java.lang.System.gc()
    for p in _heap_pools(spark):
        p.resetPeakUsage()


def heap_peak_mb(spark) -> float:
    """The JVM's peak used heap since ``collect_heap``: the sum of
    each heap pool's peak (the pools peak at different moments, so
    this bounds the true peak from above)."""
    return sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark)) / 2**20


def failed_tasks(spark, group: str) -> int:
    tracker = spark.sparkContext.statusTracker()
    n = 0
    for job_id in tracker.getJobIdsForGroup(group):
        job = tracker.getJobInfo(job_id)
        for stage_id in (job.stageIds if job else ()):
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                n += stage.numFailedTasks
    return n


# ---------------------------------------------------------------- spans

class Tracer:
    """Spans kept in memory and written once at the end of the run.
    ``enabled=False`` makes ``span`` a no-op (the untraced runs). With
    ``alternate`` set, ``next_op`` switches the spans on for every
    other timed operation, so traced and untraced operations of one
    run interleave and their difference is the cost of the spans."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.alternate = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def next_op(self) -> bool:
        """Called before each timed operation; returns whether its
        spans are on."""
        if self.alternate:
            self.enabled = not self.enabled
        return self.enabled

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"run_id": self.run_id, "id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per layer (the span name up to its first '.'): span
        durations minus the part of each interval its child spans
        cover. Children of one span run one after another, never
        overlapping, so their durations add."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - c)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------- plan

_PY_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
             "BatchEvalPython", "FlatMapGroupsInPandas")
# operators that pass rows through unchanged or only wrap codegen
_TRANSPARENT = ("InputAdapter", "WholeStageCodegen", "Project",
                "ColumnarToRow")


def plan_nodes(plan) -> list[dict]:
    """Flatten an executed physical plan into one dict per operator:
    ``name``, ``metrics``, ``parent`` (index), ``in_python`` (below a
    Python operator), ``above_python`` (a Python operator below it),
    ``cached`` (inside the plan that built a cached relation) and, for
    Python operators, ``tasks`` (their partition count). Descends
    through adaptive plans, query stages and cached relations; reused
    exchanges are skipped so shuffle bytes are not counted twice."""
    out: list[dict] = []

    def metrics(p) -> dict:
        ms = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            ms[kv._1()] = kv._2().value()
        return ms

    def walk(p, parent: int | None, under_py: bool, cached: bool) -> bool:
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(p.executedPlan(), parent, under_py, cached)
        if cls.endswith("QueryStageExec"):
            return walk(p.plan(), parent, under_py, cached)
        if cls.startswith("Reused"):
            return False
        name = p.nodeName()
        is_py = name.startswith(_PY_NODES)
        rec = {"name": name, "metrics": metrics(p), "parent": parent,
               "in_python": under_py, "cached": cached}
        if is_py:
            # builds the RDD lineage only; no job runs
            rec["tasks"] = p.execute().getNumPartitions()
        me = len(out)
        out.append(rec)
        has_py = False
        kids = p.children().iterator()
        while kids.hasNext():
            has_py |= walk(kids.next(), me, under_py or is_py, cached)
        if cls == "InMemoryTableScanExec":
            # the cached plan ran in an earlier job when it was built
            # before this one (its metrics then belong to that job)
            walk(p.relation().cachedPlan(), me, False, True)
        rec["above_python"] = has_py
        return has_py or is_py

    walk(plan, None, False, False)
    return out


def _input_rows(nodes: list[dict], i: int) -> int:
    """Rows fed into operator ``i``: the output row count of the
    nearest operator below it that is not a pass-through wrapper."""
    kids = [j for j, n in enumerate(nodes) if n["parent"] == i]
    total = 0
    for j in kids:
        if nodes[j]["name"].startswith(_TRANSPARENT) or \
                "numOutputRows" not in nodes[j]["metrics"]:
            total += _input_rows(nodes, j)
        else:
            total += nodes[j]["metrics"]["numOutputRows"]
    return total


def pipeline_metrics(nodes: list[dict]) -> dict:
    """Pipeline-layer counters of executed plans: route counts (rows
    into the JVM envelope ``Generate`` and into the Python stage),
    Python-stage tasks, boot/init/total time and bytes, codegen time
    (all stages, and the stages of the pure-JVM branch), shuffle and
    spill. Operators of cached plans count for shuffle and spill only
    (a leaf may build its own cache; a workload's input cache was
    built during set-up)."""
    m = {"rows_jvm": 0, "rows_kernel": 0, "kernel_tasks": 0,
         "python_boot_s": 0.0, "python_init_s": 0.0, "python_total_s": 0.0,
         "python_sent_mb": 0.0, "python_recv_mb": 0.0, "jvm_s": 0.0,
         "jvm_branch_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
    for i, n in enumerate(nodes):
        ms, name = n["metrics"], n["name"]
        m["shuffle_mb"] += ms.get("shuffleBytesWritten", 0) / 2**20
        m["spill_mb"] += ms.get("spillSize", 0) / 2**20
        if n["cached"]:
            continue
        if name.startswith(_PY_NODES):
            m["rows_kernel"] += _input_rows(nodes, i)
            m["kernel_tasks"] += n["tasks"]
            m["python_boot_s"] += ms.get("pythonBootTime", 0) / 1e3
            m["python_init_s"] += ms.get("pythonInitTime", 0) / 1e3
            m["python_total_s"] += ms.get("pythonTotalTime", 0) / 1e3
            m["python_sent_mb"] += ms.get("pythonDataSent", 0) / 2**20
            m["python_recv_mb"] += ms.get("pythonDataReceived", 0) / 2**20
        elif name.startswith("WholeStageCodegen"):
            m["jvm_s"] += ms.get("pipelineTime", 0) / 1e3
            if not (n["in_python"] or n["above_python"]):
                m["jvm_branch_s"] += ms.get("pipelineTime", 0) / 1e3
        elif name == "Generate" and not (n["in_python"] or n["above_python"]):
            m["rows_jvm"] += _input_rows(nodes, i)
    return m
