"""The benchmark's three workloads and the in-process kernel probe.

Each workload builds its inputs from the seed (``prepare_input``),
warms up, computes the reference it is checked against outside the
timed region, and then runs ``timed_region``: a closed loop of one
client, one job at a time, for at least ``seconds`` and at least
``min_ops`` operations. In a traced run the same loop switches the
spans on for every other operation; ``layer_metrics`` then reads the
last operation's executed plans.
"""

from __future__ import annotations

import functools
import json
import math
import os
import shutil
import statistics
import time
import traceback

from pyspark.sql import functions as F

from harness import cpu_seconds, pipeline_metrics, plan_nodes

from jsonld_js_spark.operators.pipeline import (
    extract_triples, extract_triples_hybrid, looks_like_jsonld,
    triples_only, turn_to_quads)
from jsonld_js_spark.plans.lineage import run_resumable
from jsonld_js_spark.sources.transcripts import (
    gen_conversation, synthesize_transcripts)

TRIPLE_COLS = ("conv_id", "turn_idx", "graph", "subj", "pred", "obj_kind",
               "obj_value", "obj_datatype", "obj_lang")
# the per-row hash run_resumable writes into its manifests
LINEAGE_FP_COLS = TRIPLE_COLS[:7]
# known totals of the headline corpus (ROADMAP, bench.py)
KNOWN_TRIPLES = {(100_000, 42): 6_484_519}


def _row_hash(cols):
    # bounded to 2^31 so the sum cannot overflow (run_resumable's
    # manifest formula for LINEAGE_FP_COLS)
    return F.pmod(F.xxhash64(*cols), F.lit(2_147_483_647))


def fingerprint(cols=TRIPLE_COLS):
    """Order-independent fingerprint: the sum of per-row hashes."""
    return F.sum(_row_hash(cols))


def extraction_summary(extracted, cols=TRIPLE_COLS) -> tuple[int, int, int]:
    """(triples, fingerprint of the triple rows, warnings) of an
    extract_triples result, in one aggregate."""
    is_triple = F.col("kind") == "triple"
    row = extracted.agg(
        F.count_if(is_triple).alias("n"),
        F.sum(F.when(is_triple, _row_hash(cols))).alias("fp"),
        F.count_if(F.col("kind") == "warning").alias("warnings")).first()
    return int(row["n"]), int(row["fp"] or 0), int(row["warnings"])


def run_plan(df):
    """Run ``df``'s own physical plan to completion: every row and
    column is produced, nothing is collected or written. Returns the
    executed QueryExecution (its plan metrics and observed metrics)."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return qe


def observed(qe, name: str) -> list:
    """The values of the ``observe(name, ...)`` metrics of a run plan."""
    row = qe.observedMetrics().get(name).get()
    return [None if row.isNullAt(i) else row.get(i)
            for i in range(row.length())]


class Op:
    """One timed operation: its wall time, the CPU time the processes
    of the run spent on it, whether its spans were on and, if it
    failed (raised, or failed its correctness check), why."""

    __slots__ = ("wall", "cpu", "error", "tag", "traced")

    def __init__(self, wall: float, cpu: float, error: str | None, tag,
                 traced: bool):
        self.wall, self.cpu, self.error = wall, cpu, error
        self.tag, self.traced = tag, traced


def attempt(fn, check, tag, traced: bool) -> Op:
    """Time ``fn()``; then, untimed, ``check`` its result (returns an
    error message or None)."""
    cpu0 = cpu_seconds()
    t0 = time.perf_counter()
    try:
        value = fn()
    except Exception:  # noqa: BLE001 - a failed op counts in fail_rate
        traceback.print_exc()
        return Op(time.perf_counter() - t0, cpu_seconds() - cpu0, "raised",
                  tag, traced)
    wall = time.perf_counter() - t0
    cpu = cpu_seconds() - cpu0
    try:
        return Op(wall, cpu, check(value), tag, traced)
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return Op(wall, cpu, "check raised", tag, traced)


def closed_loop(ctx, fn, check, seconds: float, min_ops: int) -> list[Op]:
    """Operations one after another until ``seconds`` have passed and
    at least ``min_ops`` ran (twice that when traced and untraced
    operations alternate)."""
    if ctx.tracer.alternate:
        min_ops *= 2
    ops: list[Op] = []
    t_end = time.perf_counter() + seconds
    while len(ops) < min_ops or time.perf_counter() < t_end:
        ops.append(attempt(fn, check, None, ctx.tracer.next_op()))
    return ops


class Ctx:
    def __init__(self, spark, *, seed: int, convs: int | None, cores: int,
                 tracer, workdir: str):
        self.spark, self.seed, self.cores = spark, seed, cores
        self.convs, self.tracer, self.workdir = convs, tracer, workdir


class Workload:
    """A workload whose operation is one ``_op`` call, checked by
    ``check``; its time is the median over operations."""

    min_ops = 4

    def timed_region(self, ctx: Ctx, seconds: float) -> list[Op]:
        return closed_loop(ctx, lambda: self._op(ctx), self.check, seconds,
                           self.min_ops)

    def time_s(self, ops: list[Op], attr: str = "wall") -> float:
        return statistics.median(getattr(o, attr) for o in ops)

    def reference(self, ctx: Ctx) -> None:
        pass

    def close(self) -> None:
        pass


# ======================================================== hybrid_extract

class HybridExtract(Workload):
    name = "hybrid_extract"
    # one partition per core: every op is one wave of kernel tasks of
    # ~40 rows each, so the fixed cost of a Python task sets its time
    default_convs = 512
    detail = {"pipeline.jvm_branch_s": "s", "pipeline.kernel_share": "ratio"}

    def prepare_input(self, ctx: Ctx) -> None:
        if getattr(self, "tx", None) is not None:
            self.tx.unpersist()
        with ctx.tracer.span("sources.synthesize_transcripts"):
            self.tx = synthesize_transcripts(
                ctx.spark, ctx.convs, seed=ctx.seed,
                partitions=ctx.cores).cache()
            self.tx.count()

    def _op(self, ctx: Ctx):
        with ctx.tracer.span("pipeline.extract_triples_hybrid"):
            extracted = extract_triples_hybrid(self.tx).observe(
                "ext", F.count_if(F.col("kind") == "warning"))
            self.qe = run_plan(triples_only(extracted).observe(
                "tri", F.count(F.lit(1)), fingerprint()))
        return self.qe

    def warm_up(self, ctx: Ctx) -> None:
        # the first op is cold (~3x a warm one), and after it alone
        # the timed ops still got ~20% faster one after another
        for _ in range(2):
            self._op(ctx)

    def reference(self, ctx: Ctx) -> None:
        """The kernel-only path (the parity oracle of
        tests/test_hybrid.py) over the same cached corpus; coalesced,
        which changes the task layout and not the rows."""
        self.ref = extraction_summary(
            extract_triples(self.tx.coalesce(ctx.cores)))
        self.triples = self.ref[0]
        known = KNOWN_TRIPLES.get((ctx.convs, ctx.seed))
        self.ref_error = (f"kernel-only path gives {self.ref[0]} triples, "
                          f"expected {known}"
                          if known is not None and self.ref[0] != known
                          else None)

    def check(self, qe) -> str | None:
        if self.ref_error:
            return self.ref_error
        n, fp = observed(qe, "tri")
        value = (int(n), int(fp or 0), int(observed(qe, "ext")[0]))
        if value != self.ref:
            return f"(triples, fingerprint, warnings) {value} != {self.ref}"
        return None

    def layer_metrics(self, ctx: Ctx, ops: list[Op]) -> tuple[list, dict,
                                                              dict]:
        """(plans, pipeline plan metrics, detail) of the last op."""
        nodes = plan_nodes(self.qe.executedPlan())
        pm = pipeline_metrics(nodes)
        pm["triples"], pm["warnings"] = self.ref[0], self.ref[2]
        routed = pm["rows_kernel"] + pm["rows_jvm"]
        return [nodes], pm, {
            "pipeline.jvm_branch_s": pm["jvm_branch_s"],
            "pipeline.kernel_share": pm["rows_kernel"] / max(1, routed)}

    def close(self) -> None:
        self.tx.unpersist()


# ==================================================== lineage_canon_build

class LineageCanonBuild(Workload):
    name = "lineage_canon_build"
    default_convs = 250
    min_ops = 3  # its ~2.5 s builds are the longest op; a run must fit
    files = 2  # the corpus lands in this many parquet files
    # partition groups: each is its own write job, so their count, not
    # the kernel, sets most of a small build's wall time
    groups = 1
    detail = {"sources.scan_s": "s", "lineage.extract_s": "s",
              "lineage.self_s": "s", "lineage.bytes_written_mb": "MB",
              "lineage.files_written": "count", "lineage.groups": "count"}

    def prepare_input(self, ctx: Ctx) -> None:
        self.corpus = os.path.join(ctx.workdir, "corpus")
        shutil.rmtree(self.corpus, ignore_errors=True)
        with ctx.tracer.span("sources.synthesize_transcripts"):
            (synthesize_transcripts(ctx.spark, ctx.convs, seed=ctx.seed)
             .coalesce(self.files).write.parquet(self.corpus))
        self.n_builds = 0

    def _op(self, ctx: Ctx):
        out = os.path.join(ctx.workdir, f"out-{self.n_builds}")
        self.n_builds += 1
        with ctx.tracer.span("lineage.run_resumable"):
            res = run_resumable(ctx.spark.read.parquet(self.corpus), out,
                                n_groups=self.groups, canonicalize=True)
        return res, out

    def _collect(self, res: dict, out: str) -> int:
        """Reads the build's manifests and output sizes, then deletes
        it; returns the summed manifest fingerprint."""
        mdir = os.path.join(out, "manifest")
        fp = 0
        for f in os.listdir(mdir):
            if f.endswith(".json"):
                with open(os.path.join(mdir, f)) as fh:
                    fp += json.load(fh)["fingerprint"]
        files = [os.path.join(d, f) for d, _, fs in
                 os.walk(os.path.join(out, "data")) for f in fs
                 if f.endswith(".parquet")]
        self.written = (sum(os.path.getsize(f) for f in files) / 2**20,
                        len(files), res["groups_completed"])
        shutil.rmtree(out)
        return fp

    def warm_up(self, ctx: Ctx) -> None:
        # a complete build: after a one-group warm-up the first timed
        # build was ~20% slower than the next
        self._collect(*self._op(ctx))

    def reference(self, ctx: Ctx) -> None:
        """The same kernel extraction, with canonical labels, as one
        aggregate over the whole corpus: its triple count and the sum
        of run_resumable's per-row manifest hash."""
        with ctx.tracer.span("sources.scan"):
            t0 = time.perf_counter()
            ctx.spark.read.parquet(self.corpus).count()
            self.scan_s = time.perf_counter() - t0
        n, fp, _ = extraction_summary(
            extract_triples(ctx.spark.read.parquet(self.corpus),
                            canonicalize=True), LINEAGE_FP_COLS)
        # a complete build has no warnings, whatever the kernel says
        self.ref = (n, fp, 0)
        self.triples = n

    def check(self, value) -> str | None:
        res, out = value
        fp = self._collect(res, out)
        if not res["complete"]:
            return f"incomplete: {res['groups_completed']} groups"
        got = (res["n_triples"], fp, res["n_warnings"])
        if got != self.ref:
            return f"(triples, fingerprint, warnings) {got} != {self.ref}"
        return None

    def layer_metrics(self, ctx: Ctx, ops: list[Op]) -> tuple[list, dict,
                                                              dict]:
        """The extraction run_resumable performs, alone and unwritten
        (the pipeline's share of a build), plus the last build's
        output sizes."""
        with ctx.tracer.span("pipeline.extract_triples"):
            t0 = time.perf_counter()
            qe = run_plan(extract_triples(ctx.spark.read.parquet(self.corpus),
                                          canonicalize=True))
            extract_s = time.perf_counter() - t0
        nodes = plan_nodes(qe.executedPlan())
        pm = pipeline_metrics(nodes)
        pm["triples"], pm["warnings"] = self.ref[0], self.ref[2]
        mb, n_files, groups = self.written
        return [nodes], pm, {
            "sources.scan_s": self.scan_s, "lineage.extract_s": extract_s,
            "lineage.self_s": self.time_s(ops) - extract_s,
            "lineage.bytes_written_mb": mb, "lineage.files_written": n_files,
            "lineage.groups": groups}



# ========================================================= battery_sf001

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "sf0.01")

# The leaves that fit a run: the inline window and salted join of
# queries.py, the multimodal operator's Python stage and the pipeline
# over a table; perfbench/metrics.json maps all 40 leaves to their
# modules.
LEAVES = {
    "q_window_top_order_per_cust": "queries",
    "q_skew_salted_join": "queries",
    "mm_decode_features": "multimodal",
    "kg_tordf_customers": "pipeline",
}
TRIPLE_LEAF = "kg_tordf_customers"


def _kind(type_name) -> str:
    """tests/test_queries.py's type classes: int / float / decimal /
    other."""
    t = str(type_name).lower()
    if t.startswith(("int", "uint", "bigint", "long", "smallint", "tinyint")):
        return "int"
    if t.startswith(("float", "double", "halffloat")):
        return "float"
    if t.startswith("decimal"):
        return "decimal"
    return "other"


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _row_set(rows, cols) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def compare_with_oracle(sdf, spark_rows, atbl) -> str | None:
    """tests/test_queries.py's rules: same column names, same type
    class per column, same row count, same multiset of exact reprs."""
    s_cols = [c.lower() for c in sdf.columns]
    s_kinds = {f.name.lower(): _kind(f.dataType.simpleString())
               for f in sdf.schema.fields}
    d_cols = [f.name.lower() for f in atbl.schema]
    d_kinds = {f.name.lower(): _kind(f.type) for f in atbl.schema}
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {s_cols} != {d_cols}"
    for c in s_cols:
        if s_kinds[c] != d_kinds[c]:
            return f"column {c}: type {s_kinds[c]} != {d_kinds[c]}"
    d_rows = list(zip(*(atbl.column(i).to_pylist()
                        for i in range(atbl.num_columns))))
    if len(spark_rows) != len(d_rows):
        return f"{len(spark_rows)} rows != {len(d_rows)}"
    if _row_set(spark_rows, s_cols) != _row_set(d_rows, d_cols):
        return "values differ"
    return None


class BatterySf001(Workload):
    name = "battery_sf001"
    default_convs = None  # fixed tables; the seed does not apply
    min_rounds = 2
    detail = {**{f"battery.{leaf}_s": "s" for leaf in LEAVES},
              **{f"battery.{leaf}.shuffle_mb": "MB" for leaf in LEAVES},
              **{f"battery.{leaf}.spill_mb": "MB" for leaf in LEAVES}}

    def prepare_input(self, ctx: Ctx) -> None:
        # one job scanning every table
        with ctx.tracer.span("sources.scan_tables"):
            scans = [ctx.spark.read.parquet(os.path.join(DATA, f))
                     .select(F.lit(1)) for f in sorted(os.listdir(DATA))]
            functools.reduce(lambda a, b: a.union(b), scans).count()

    def warm_up(self, ctx: Ctx) -> None:
        """The first, cold pass doubles as the correctness gate: each
        leaf's collected rows against its DuckDB oracle. The DuckDB
        time is kept out of the warm-up time."""
        import duckdb

        from jsonld_js_spark.queries import QUERIES

        self.oracle_s = 0.0
        self.triples = 0
        self.errors: dict[str, str | None] = {}
        con = duckdb.connect()
        try:
            for f in os.listdir(DATA):
                con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * "
                            f"FROM read_parquet('{os.path.join(DATA, f)}')")
            for leaf in LEAVES:
                fn, sql = QUERIES[leaf]
                ctx.spark.catalog.clearCache()
                try:
                    sdf = fn(ctx.spark, DATA)
                    rows = [tuple(r) for r in sdf.collect()]
                except Exception:  # noqa: BLE001 - counted as failed
                    traceback.print_exc()
                    self.errors[leaf] = "raised"
                    continue
                if leaf == TRIPLE_LEAF:
                    self.triples = len(rows)
                t0 = time.perf_counter()
                self.errors[leaf] = compare_with_oracle(
                    sdf, rows, con.execute(sql).arrow())
                self.oracle_s += time.perf_counter() - t0
        finally:
            con.close()

    def timed_region(self, ctx: Ctx, seconds: float) -> list[Op]:
        """Rounds of every leaf, each isolated from the previous one's
        caches, until ``seconds`` have passed and ``min_rounds`` ran
        (twice that when traced and untraced rounds alternate). A leaf
        fails if it raises or failed its oracle check."""
        from jsonld_js_spark.queries import QUERIES

        self.plans: dict = {}

        def run_leaf(leaf):
            with ctx.tracer.span(f"battery.{LEAVES[leaf]}.{leaf}"):
                self.plans[leaf] = run_plan(QUERIES[leaf][0](ctx.spark, DATA))

        min_rounds = self.min_rounds * (2 if ctx.tracer.alternate else 1)
        ops: list[Op] = []
        t_end = time.perf_counter() + seconds
        rounds = 0
        while rounds < min_rounds or time.perf_counter() < t_end:
            traced = ctx.tracer.next_op()
            for leaf in LEAVES:
                ctx.spark.catalog.clearCache()
                ops.append(attempt(lambda: run_leaf(leaf),
                                   lambda _: self.errors[leaf], leaf, traced))
            rounds += 1
        return ops

    @staticmethod
    def _per_leaf(ops: list[Op], attr: str) -> dict[str, float]:
        return {leaf: statistics.median(getattr(o, attr) for o in ops
                                        if o.tag == leaf)
                for leaf in LEAVES}

    def time_s(self, ops: list[Op], attr: str = "wall") -> float:
        """The sum over leaves of each leaf's median."""
        return sum(self._per_leaf(ops, attr).values())

    def layer_metrics(self, ctx: Ctx, ops: list[Op]) -> tuple[list, dict,
                                                              dict]:
        nodes = {leaf: plan_nodes(qe.executedPlan())
                 for leaf, qe in self.plans.items()}
        detail = {}
        for leaf, wall in self._per_leaf(ops, "wall").items():
            pm = pipeline_metrics(nodes[leaf])
            detail[f"battery.{leaf}_s"] = wall
            detail[f"battery.{leaf}.shuffle_mb"] = pm["shuffle_mb"]
            detail[f"battery.{leaf}.spill_mb"] = pm["spill_mb"]
        pm = pipeline_metrics(nodes[TRIPLE_LEAF])
        pm["triples"], pm["warnings"] = self.triples, 0
        return list(nodes.values()), pm, detail


WORKLOADS = {w.name: w for w in (HybridExtract, LineageCanonBuild,
                                  BatterySf001)}


# ============================================================ kernel probe

def _pct(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def kernel_probe(seed: int, per_class: int = 1000,
                 mix_turns: int = 3000) -> dict:
    """In-process, single-threaded timings of the kernel over turns of
    the seeded transcript generator (the workloads' corpus): the whole
    ``turn_to_quads`` per turn class, and ``api.expand``,
    ``tordf.to_rdf``, ``canon.canonical_id_map`` and
    ``tordf.quads_to_rows`` on the document turns. Returns
    {metric: value}."""
    from jsonld_js_spark.kernel.api import expand
    from jsonld_js_spark.kernel.canon import canonical_id_map
    from jsonld_js_spark.kernel.nodemap import IdentifierIssuer
    from jsonld_js_spark.kernel.tordf import quads_to_rows, to_rdf

    classes: dict[str, list] = {"envelope": [], "doc": [], "tool": []}
    mix: list = []
    conv = 0
    while min(len(v) for v in classes.values()) < per_class:
        for t in gen_conversation(conv, seed):
            args = (t["conv_id"], t["turn_idx"], t["role"], t["text"],
                    t["tool"], t["ts"])
            cls = ("tool" if t["tool"] else
                   "doc" if looks_like_jsonld(t["text"]) else "envelope")
            if len(classes[cls]) < per_class:
                classes[cls].append(args)
            if len(mix) < mix_turns:
                mix.append(args)
        conv += 1

    def clock(fn, items) -> list[float]:
        out = []
        for it in items:
            t0 = time.perf_counter_ns()
            fn(it)
            out.append((time.perf_counter_ns() - t0) / 1e3)
        return out

    out: dict = {}
    for cls, turns in classes.items():
        us = clock(lambda a: turn_to_quads(*a), turns)
        out[f"kernel.{cls}.turn_us_p50"] = statistics.median(us)
        out[f"kernel.{cls}.turn_us_p99"] = _pct(us, 99)
    docs = [json.loads(a[3]) for a in classes["doc"]]
    expanded = [expand(d, {"events": []}) for d in docs]
    quads = [to_rdf(e, {"events": [], "issuer": IdentifierIssuer("_:b-")})
             for e in expanded]
    out["kernel.expand_us_p50"] = statistics.median(
        clock(lambda d: expand(d, {"events": []}), docs))
    out["kernel.to_rdf_us_p50"] = statistics.median(clock(
        lambda e: to_rdf(e, {"events": [],
                             "issuer": IdentifierIssuer("_:b-")}),
        expanded))
    out["kernel.canon_us_p50"] = statistics.median(
        clock(canonical_id_map, quads))
    out["kernel.rows_us_p50"] = statistics.median(
        clock(lambda q: list(quads_to_rows(q)), quads))
    us = clock(lambda a: turn_to_quads(*a), mix)
    out["kernel.turns_per_s_1core"] = len(us) / (sum(us) / 1e6)
    return out
