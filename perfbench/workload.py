"""One benchmark run of one workload, in a fresh process.

`run.py` starts this file with the run's environment and directories and
reads the JSON it writes to `--out`. The run:

1. sets up once, from the fresh process: `session.get_session` (which
   launches the JVM), `catalog.load_tables` and a count of every table;
2. runs one cold pass, three warm-up passes, then measured passes for
   `--seconds` (at least three); a pass runs every op of the workload
   once, the cold pass in the listed order, each later pass in its own
   order drawn from `--seed`; every pass and op is timed in wall and in
   CPU seconds of the whole process tree;
3. collects every op once more, untimed, and compares it with its DuckDB
   oracle and records how many rows the oracle returned.

An op is one registry entry: `collect_all()[name].build(spark, data)`
executed into the `noop` sink.

With `--trace 1` the measured passes alternate between untraced and
traced; traced passes record spans and counters (see spans.py), and the
run reports per-layer metrics from them plus the tracing overhead.
"""

from __future__ import annotations

import argparse
import functools
import importlib.machinery
import json
import os
import random
import statistics
import sys
import time
import traceback

import procs
import spans as tr

# Each workload is a handful of registry entries, sized so that one run
# (set-up, a cold pass, about six warm passes and the oracle check)
# takes under a minute on 4 cores.
WORKLOADS = {
    # read-only relational work: aggregation, a three-way and a six-way
    # join, a filtered scan, an IN subquery (semi join), EXISTS / NOT
    # EXISTS (semi and anti joins) and a scalar subquery
    "tpch": ("q1", "q3", "q5", "q6", "q18", "q21", "q22"),
    # writes beside reads: Delta commits and log replay, copy-on-write
    # merge, micro-batch streaming into a Delta table, a deduplicated
    # training corpus released into Delta, and per-document text stats
    "lakehouse": (
        "src_delta_merge", "stream_delta_sink", "dp_corpus_to_lakehouse", "dp_text_stats",
    ),
}
# The first three warm passes still take 10-60% more CPU time than the
# ones after them (JIT, Python workers), so they are a warm-up: timed,
# recorded, left out of the metrics. The warm-up is a number of passes,
# not a time, so that a slow host does not move the measured passes to
# a less warmed-up place.
WARMUP_PASSES = 3
MIN_WARM_PASSES = 3

# The plan modules write their tables under this hard-coded prefix. The
# benchmark keeps all its reads and writes inside its checkout, so the
# modules that name the prefix are compiled with it pointed into the run
# directory; nothing else in them changes.
_IO_PREFIX = "/tmp/spark_graft_io_"


class _IoRootLoader(importlib.machinery.SourceFileLoader):
    """Compiles a module with `_IO_PREFIX` pointed into the run directory.

    Always compiles from source and never writes bytecode, so the
    rewritten code cannot leak into a cached `.pyc`."""

    def __init__(self, fullname: str, path: str, io_root: str):
        super().__init__(fullname, path)
        self.io_root = io_root

    def get_code(self, fullname):
        path = self.get_filename(fullname)
        src = self.get_data(path).decode("utf-8")
        src = src.replace(_IO_PREFIX, f"{self.io_root}/spark_graft_io_")
        return compile(src, path, "exec", dont_inherit=True)


class _IoRootFinder:
    def __init__(self, io_root: str):
        self.io_root = io_root

    def find_spec(self, fullname, path, target=None):
        if not fullname.startswith("incubator_gluten_spark."):
            return None
        spec = importlib.machinery.PathFinder.find_spec(fullname, path)
        if spec is None or not (spec.origin or "").endswith(".py"):
            return spec
        with open(spec.origin, encoding="utf-8") as fh:
            if _IO_PREFIX not in fh.read():
                return spec
        spec.loader = _IoRootLoader(fullname, spec.origin, self.io_root)
        return spec


def redirect_io_root(io_root: str) -> None:
    if any(c in io_root for c in "{}'\"\\"):
        raise ValueError(f"unusable scratch path: {io_root!r}")
    sys.meta_path.insert(0, _IoRootFinder(io_root))


def _cpu_s() -> float:
    """CPU seconds used so far by this run's processes: this driver, the
    JVM and its Python workers, all in the session run.py started."""
    return procs.session_cpu_s(os.getsid(0))


class Runner:
    def __init__(self, spark, registry, data: str, io_dir: str, tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.registry = registry
        self.data = data
        self.io_dir = io_dir
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.oracle_rows: dict[str, int] = {}

    def _fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)

    def run_op(self, name: str) -> float:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            df = self.registry[name].build(self.spark, self.data)
            df.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 - one failing op must not end the run
            self._fail(name)
        return time.perf_counter() - t0

    def run_traced_op(self, name: str, pass_no: int) -> float:
        t, sc = self.tracer, self.sc
        self.attempted += 1
        before = tr.fs_state(self.io_dir)
        groups = {ph: f"perfbench-{pass_no}-{ph}-{name}" for ph in ("build", "exec")}
        t.begin_op(f"{pass_no}:{name}")
        df = None
        try:
            with t.span("op") as root:
                sc.setJobGroup(groups["build"], groups["build"])
                with t.span("plans.build"):
                    df = self.registry[name].build(self.spark, self.data)
                sc.setJobGroup(groups["exec"], groups["exec"])
                with t.span("plans.exec"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001
            self._fail(name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            t.op = None
        wall = root.end - root.start
        c = t.counts
        build_jobs = tr.job_stats(sc, groups["build"])[0]
        c["plans.build_jobs"] += build_jobs
        jobs, stages, tasks = tr.job_stats(sc, groups["exec"])
        if name.startswith("dp_"):
            c["datapipe.jobs"] += build_jobs + jobs
        c["plans.exec_jobs"] += jobs
        c["plans.exec_stages"] += stages
        c["plans.exec_tasks"] += tasks
        if df is not None:
            exchanges, scans = tr.plan_counts(df)
            c["plans.exchanges"] += exchanges
            c["plans.scans"] += scans
        commits, files, nbytes = tr.fs_written(before, tr.fs_state(self.io_dir))
        c["sources.commits"] += commits
        c["sources.files_written"] += files
        c["sources.bytes_written_mb"] += nbytes / 2**20
        return wall

    def run_pass(self, ops, pass_no: int, traced: bool = False) -> dict:
        run = functools.partial(self.run_traced_op, pass_no=pass_no) if traced else self.run_op
        wall, cpu = {}, {}
        t0, c0 = time.perf_counter(), _cpu_s()
        for op in ops:
            c = _cpu_s()
            wall[op] = run(op)
            cpu[op] = _cpu_s() - c
        return {"pass": pass_no, "traced": traced, "s": time.perf_counter() - t0,
                "cpu_s": _cpu_s() - c0, "ops": wall, "ops_cpu": cpu}

    def check(self, ops) -> None:
        """Collect every op once and compare it with its DuckDB oracle."""
        from incubator_gluten_spark.testing.compare import compare_frames, duckdb_connection

        con = duckdb_connection(self.data)
        try:
            for name in ops:
                self.attempted += 1
                q = self.registry[name]
                try:
                    if q.oracle is None:
                        raise ValueError(f"{name} has no oracle")
                    compare_frames(q.build(self.spark, self.data), con, q.oracle)
                    self.oracle_rows[name] = len(con.sql(q.oracle).fetchall())
                except Exception:  # noqa: BLE001
                    self._fail(f"oracle check of {name}")
        finally:
            con.close()


def space_amp(spark, io_dir: str) -> float:
    """Bytes on disk under every Delta table root in `io_dir`, divided by
    the bytes of the data files in those tables' current snapshots."""
    from incubator_gluten_spark.sources import delta_protocol as dp

    disk = live = 0
    for d, subdirs, _ in os.walk(io_dir):
        if "_delta_log" not in subdirs:
            continue
        for dd, _, ff in os.walk(d):
            disk += sum(os.path.getsize(os.path.join(dd, f)) for f in ff)
        live += sum(int(a["size"]) for a in dp.resolve(spark, d).adds)
        subdirs[:] = []
    if live == 0:
        raise RuntimeError(f"no live Delta data under {io_dir}")
    return disk / live


def setup(get_session, catalog, data: str, conf: dict) -> tuple:
    t0, c0 = time.perf_counter(), _cpu_s()
    spark = get_session(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    tables = catalog.load_tables(spark, data)
    t2 = time.perf_counter()
    for df in tables.values():
        df.count()
    t3 = time.perf_counter()
    return spark, {"start_s": t1 - t0, "load_s": t2 - t1, "first_scan_s": t3 - t2,
                   "total_s": t3 - t0, "cpu_s": _cpu_s() - c0}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer, traced: list[dict]) -> dict:
    """Per-layer metrics: for each metric the median, over the traced warm
    passes, of the pass's total."""
    rows = []
    for p in traced:
        prefix = f"{p['pass']}:"
        spans = [s for s in tracer.spans if s.op and s.op.startswith(prefix)]
        self_t = tr.self_times(spans)
        row = dict.fromkeys(tr.SPAN_TOTALS, 0.0)
        for s in spans:
            dur = s.end - s.start
            if s.name in ("plans.build", "plans.exec"):
                phase = s.name.split(".")[1]
                row[f"plans.{phase}_s"] += dur
                if phase == "build":
                    row["plans.build_self_s"] += self_t[s.id]
                if s.op[len(prefix):].startswith("dp_"):
                    row[f"datapipe.{phase}_s"] += dur
            elif f"{s.name}_s" in row:
                row[f"{s.name}_s"] += self_t[s.id]
                if f"{s.name}_calls" in row:
                    row[f"{s.name}_calls"] += 1
        row.update(p["counts"])
        rows.append(row)
    return {k: _median([r[k] for r in rows]) for k in rows[0]}


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - _T0:6.2f} s {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--spans", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)

    io_root = os.path.join(a.run_dir, "io")
    redirect_io_root(io_root)
    tracer = tr.Tracer() if a.trace else None
    if tracer:
        tr.install_wrappers(tracer)

    from incubator_gluten_spark import catalog
    from incubator_gluten_spark.session import get_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(a.run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    spark, setup_t = setup(get_session, catalog, a.data, conf)
    _log("set-up done")

    from incubator_gluten_spark.plans import collect_all

    registry = collect_all()
    # The cold pass runs the ops in their listed order, as a batch job
    # would, so that which op pays first-use costs (JIT, Python workers)
    # does not vary between runs; each warm pass runs them in its own
    # order drawn from the seed.
    ops = WORKLOADS[a.workload]
    rng = random.Random(a.seed)
    orders = [list(ops)]
    io_dir = f"{io_root}/spark_graft_io_{os.getpid()}"
    runner = Runner(spark, registry, a.data, io_dir, tracer)
    probe = None
    if tracer:
        probe = tr.LayerProbe(spark, tracer)

    cold = runner.run_pass(orders[0], 0)
    _log("cold pass done")
    # The measured passes follow a fixed number of warm-up passes and run
    # for --seconds. Traced runs alternate untraced and traced measured
    # passes and end on an untraced one, so each traced pass sits between
    # two untraced ones.
    warm = []
    t0 = None
    while (len(warm) < WARMUP_PASSES + MIN_WARM_PASSES
           or time.perf_counter() - t0 < a.seconds or warm[-1]["traced"]):
        if len(warm) == WARMUP_PASSES:
            t0 = time.perf_counter()
        n = len(warm) + 1
        order = rng.sample(ops, len(ops))
        orders.append(order)
        if probe and n > WARMUP_PASSES and (n - WARMUP_PASSES) % 2 == 0:
            p, counts = probe.run(functools.partial(runner.run_pass, order, n, traced=True))
            p["counts"] = counts
        else:
            p = runner.run_pass(order, n)
        warm.append(p)
    _log("warm passes done")

    amp = space_amp(spark, io_dir) if a.workload == "lakehouse" else 1.0
    runner.check(orders[0])
    _log("oracle check done")

    untraced = [p for p in warm[WARMUP_PASSES:] if not p["traced"]]
    out = {
        "seed": a.seed,
        "setup": setup_t,
        "orders": orders,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "failures": runner.failures,
        "oracle_rows": runner.oracle_rows,
        "passes": [cold] + warm,
        # Set-up, passes and ops are measured in CPU seconds of the whole
        # process tree. On a small shared host, neighbours' load and CPU
        # steal stretch wall times by 20-100% for minutes at a time and
        # CPU times by a third to a half as much; the wall times are in
        # "setup" and "passes".
        "metrics": {
            "setup_s": setup_t["cpu_s"],
            # a one-shot job pays the set-up and the first pass; their sum
            # varies less than the first pass alone, as JIT work started
            # in the set-up runs on into the first pass
            "cold_run_cpu_s": setup_t["cpu_s"] + cold["cpu_s"],
            "pass_cpu_s": _median([p["cpu_s"] for p in untraced]),
            "op_cpu_p50_s": _median([v for p in untraced for v in p["ops_cpu"].values()]),
            "ops_ok_frac": 1.0 - len(runner.failures) / runner.attempted,
            "space_amp": amp,
        },
    }
    if tracer:
        traced = [p for p in warm if p["traced"]]
        layers = layer_metrics(tracer, traced)
        layers["session.start_s"] = setup_t["start_s"]
        layers["catalog.load_s"] = setup_t["load_s"]
        layers["catalog.first_scan_s"] = setup_t["first_scan_s"]
        layers["trace.pass_s"] = _median([p["s"] for p in traced])
        layers["trace.untraced_pass_s"] = _median([p["s"] for p in untraced])
        layers["trace.overhead_frac"] = layers["trace.pass_s"] / layers["trace.untraced_pass_s"] - 1
        out["per_layer"] = {k: layers[k] for k in tr.PER_LAYER}
        tracer.dump(a.spans)
    spark.stop()
    with open(a.out, "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
