"""Spans and counters for the traced benchmark run.

Spans are recorded from the benchmark's side of each layer boundary: the
benchmark wraps public functions of the repository's layer modules
(`catalog`, `datapipe`, `sources.delta_protocol`, `streaming.jobs`) and
times the two phases of every op (`plans.build`, `plans.exec`) itself. Engine-side counters come from the JVM's management
beans, Spark's `CodegenMetrics`, `statusTracker()` job groups and a
`StreamingQueryListener`.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import re
import threading
import time
from collections import defaultdict

# Layer functions the benchmark wraps and reports (self time, call count):
# the ones the workloads' ops reach, so the metric set is fixed.
DATAPIPE_FNS = ("exact_dedup", "text_stats")
SOURCES_FNS = ("create_table", "append_stream_batch", "merge", "read_table", "resolve")
STREAMING_FNS = ("read_events_stream",)

# Counters a traced pass accumulates (see LayerProbe and the op runner).
PASS_COUNTERS = (
    "plans.build_jobs", "plans.exec_jobs", "plans.exec_stages", "plans.exec_tasks",
    "plans.exchanges", "plans.scans", "datapipe.jobs", "sources.commits",
    "sources.files_written", "sources.bytes_written_mb", "streaming.batches",
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.wal_commit_ms",
    "session.jit_ms", "session.gc_ms", "session.heap_used_mb",
    "session.codegen_compiles", "session.codegen_ms",
)
# Totals of span time per traced pass. The datapipe functions the ops
# reach return lazy plans, so their spans time only plan construction;
# the work those plans do is counted per datapipe op (`dp_*`):
# `datapipe.build_s` and `datapipe.exec_s` are the ops' two phases, and
# `datapipe.jobs` the Spark jobs of both.
SPAN_TOTALS = (
    ("plans.build_s", "plans.build_self_s", "plans.exec_s", "catalog.load_table_s",
     "catalog.load_table_calls", "datapipe.build_s", "datapipe.exec_s")
    + tuple(f"datapipe.{f}_{k}" for f in DATAPIPE_FNS for k in ("s", "calls"))
    + tuple(f"sources.{f}_{k}" for f in SOURCES_FNS for k in ("s", "calls"))
    + tuple(f"streaming.{f}_s" for f in STREAMING_FNS)
)
# Set-up phase and tracing overhead.
RUN_TOTALS = (
    "session.start_s", "catalog.load_s", "catalog.first_scan_s",
    "trace.pass_s", "trace.untraced_pass_s", "trace.overhead_frac",
)
PER_LAYER = PASS_COUNTERS + SPAN_TOTALS + RUN_TOTALS

# (layer, defining module, reported functions); the wrappers also replace
# the package-level re-exports of these functions
_WRAPPED = (
    ("catalog", "incubator_gluten_spark.catalog", ("load_table",)),
    ("datapipe", "incubator_gluten_spark.datapipe.dedup", DATAPIPE_FNS),
    ("datapipe", "incubator_gluten_spark.datapipe.textstats", DATAPIPE_FNS),
    ("sources", "incubator_gluten_spark.sources.delta_protocol", SOURCES_FNS),
    ("streaming", "incubator_gluten_spark.streaming.jobs", STREAMING_FNS),
)
_REEXPORTS = ("incubator_gluten_spark.datapipe", "incubator_gluten_spark.streaming")


class Span:
    __slots__ = ("id", "parent", "op", "name", "start", "end")

    def __init__(self, sid, parent, op, name, start):
        self.id, self.parent, self.op, self.name = sid, parent, op, name
        self.start, self.end = start, None


class Tracer:
    """In-memory span recorder.

    Spans opened on the thread that runs the op nest under that thread's
    open span; spans opened on another thread (streaming `foreachBatch`
    callbacks arrive on py4j's callback thread) nest under the op
    thread's innermost open span, which is the call waiting for them.
    """

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self.op: str | None = None
        self.counts: defaultdict = defaultdict(float)
        self._next = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_stack: list[Span] = []
        self._op_thread = None

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._op_thread:
            return self._op_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin_op(self, op: str) -> None:
        self.op = op
        self._op_thread = threading.get_ident()
        self._op_stack = []

    def open(self, name: str) -> Span:
        st = self._stack()
        parent = st[-1] if st else (self._op_stack[-1] if self._op_stack else None)
        with self._lock:
            self._next += 1
            sp = Span(self._next, parent.id if parent else None, self.op, name,
                      time.perf_counter())
            self.spans.append(sp)
        st.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled or tracer.op is None:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "parent": s.parent, "op": s.op, "name": s.name,
                    "start": s.start, "end": s.end,
                }) + "\n")


def install_wrappers(tracer: Tracer) -> None:
    """Replace the reported layer functions with traced wrappers.

    Must run before the plan modules are imported: several of them bind
    layer functions with `from ... import` at import time, and those
    bindings would keep the unwrapped function. Functions a layer module
    calls on itself go through the module global, so they are traced too.
    """
    wrapped: dict[int, object] = {}
    for layer, mod_name, names in _WRAPPED:
        mod = importlib.import_module(mod_name)
        for attr in names:
            fn = vars(mod).get(attr)
            if fn is None or getattr(fn, "__module__", None) != mod_name:
                continue
            w = tracer.wrap(f"{layer}.{attr}", fn)
            wrapped[id(fn)] = w
            setattr(mod, attr, w)
    for mod_name in _REEXPORTS:
        mod = importlib.import_module(mod_name)
        for attr, val in list(vars(mod).items()):
            if id(val) in wrapped:
                setattr(mod, attr, wrapped[id(val)])


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        ivs = sorted(
            (max(c.start, s.start), min(c.end or c.start, end)) for c in kids.get(s.id, ())
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.id] = max(end - s.start - covered, 0.0)
    return out


class JvmCounters:
    """Engine counters read through py4j: JIT and GC time, heap peak and
    whole-stage codegen compiles."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"
        ]
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def read(self) -> dict[str, float]:
        return {
            "jit_ms": float(self._comp.getTotalCompilationTime()),
            "gc_ms": float(sum(g.getCollectionTime() for g in self._gcs)),
            "codegen_compiles": float(self._codegen.getCount()),
            "codegen_mean_ms": float(self._codegen.getSnapshot().getMean()),
        }

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools) / 2**20


class LayerProbe:
    """Engine counters around one traced pass: JIT, GC and codegen deltas
    from the JVM, the pass's heap peak, and streaming progress totals from
    a `StreamingQueryListener`."""

    def __init__(self, spark, tracer: Tracer):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark, self.tracer = spark, tracer
        self.jvm = JvmCounters(spark)
        self.current = None
        probe = self

        class ProgressTotals(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                c = probe.current
                if c is None:
                    return
                d = event.progress.durationMs or {}
                c["streaming.batches"] += 1
                c["streaming.trigger_ms"] += d.get("triggerExecution", 0)
                c["streaming.add_batch_ms"] += d.get("addBatch", 0)
                c["streaming.wal_commit_ms"] += d.get("walCommit", 0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(ProgressTotals())

    def run(self, run_pass) -> tuple[dict, dict]:
        """Run `run_pass()` traced; return its result and the pass's
        counters."""
        c = self.tracer.counts = self.current = defaultdict(float, dict.fromkeys(PASS_COUNTERS, 0.0))
        j0 = self.jvm.read()
        self.jvm.reset_heap_peak()
        self.tracer.enabled = True
        try:
            result = run_pass()
        finally:
            self.tracer.enabled = False
        # the listener bus delivers progress events asynchronously
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        self.current = None
        j1 = self.jvm.read()
        c["session.jit_ms"] = j1["jit_ms"] - j0["jit_ms"]
        c["session.gc_ms"] = j1["gc_ms"] - j0["gc_ms"]
        c["session.heap_used_mb"] = self.jvm.heap_peak_mb()
        c["session.codegen_compiles"] = j1["codegen_compiles"] - j0["codegen_compiles"]
        # CodegenMetrics keeps a sampled histogram, so the time is its
        # mean times the exact compile count
        c["session.codegen_ms"] = c["session.codegen_compiles"] * j1["codegen_mean_ms"]
        return result, dict(c)


def job_stats(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            sinfo = st.getStageInfo(sid)
            if sinfo is not None:
                tasks += sinfo.numTasks
    return len(jobs), stages, tasks


_NODE = re.compile(r"^[\s:+\-|*()0-9]*([A-Za-z]\w*)")


def plan_counts(df) -> tuple[int, int]:
    """(exchanges, scans) in the op's planned physical plan, subqueries
    included. Reused exchanges count once per reference."""
    text = df._jdf.queryExecution().executedPlan().toString()
    exchanges = scans = 0
    for line in text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node.endswith("Exchange"):
            exchanges += 1
        elif "Scan" in node:
            scans += 1
    return exchanges, scans


def fs_state(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


_COMMIT = re.compile(r"/_delta_log/\d{20}\.json$")


def fs_written(before: dict, after: dict) -> tuple[int, int, int]:
    """(delta commits, data files, data bytes) present in `after` that are
    new or rewritten since `before`."""
    commits = files = nbytes = 0
    for p, meta in after.items():
        if before.get(p) == meta:
            continue
        if _COMMIT.search(p):
            commits += 1
        elif p.endswith(".parquet") and "/_delta_log/" not in p:
            files += 1
            nbytes += meta[0]
    return commits, files, nbytes
