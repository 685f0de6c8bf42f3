"""Benchmark entry point.

    python3 perfbench/run.py --workload {tpch,lakehouse} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The first run writes the input tables
(datagen.py) under `.bench_build/perfbench/`; later runs reuse them. Each
run starts `workload.py` in a new process session with the repository on
`PYTHONPATH`, `local[nproc]`, a driver heap that fits small hosts and all
scratch space (Spark local dirs, JVM and Python temp dirs, the plan
modules' table roots, the warehouse) in a per-run directory inside the
checkout. It samples the resident memory of the whole process tree, stops
every process of the session at the end, deletes the per-run directory
and prints, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics, with `--trace 1`
the per-layer metrics. The line before it records the seed, the op order
of every pass, the wall and CPU times of the set-up and of every pass and
op and the row count of each op's oracle result.
Exits non-zero without a result when the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import procs  # noqa: E402

SCALE = 0.01
DRIVER_MEM = "3g"
RUN_TIMEOUT_S = 150
END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_run_cpu_s": "s",
    "pass_cpu_s": "s",
    "op_cpu_p50_s": "s",
    "ops_ok_frac": "ratio",
    "space_amp": "ratio",
}


class RssSampler(threading.Thread):
    """Peak summed RSS of one process session, sampled every 100 ms."""

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0
        self._done = threading.Event()

    def run(self):
        while not self._done.wait(0.1):
            self.peak = max(self.peak, procs.rss_bytes(procs.session_pids(self.sid)))

    def stop(self):
        self._done.set()
        self.join()


def _stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process of a session; wait until none
    is left. The session's processes are not all our children (the JVM's
    Python workers are its own), so waiting polls /proc."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        pids = procs.session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while procs.session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.05)
    if procs.session_pids(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def _remove_stale_runs(work: str) -> None:
    for name in os.listdir(work):
        if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)


def _run_session(cmd, env) -> tuple[int | None, int]:
    """Run `cmd` in a new process session. Return its exit code (None if
    it timed out) and the session's peak summed RSS in bytes; every
    process of the session has ended on return."""
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                             start_new_session=True)
    sampler = RssSampler(child.pid)
    sampler.start()
    try:
        code = child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
    finally:
        sampler.stop()
        _stop_session(child.pid)
        child.wait()
    return code, sampler.peak


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE,
                    help="input size in TPC-H scale factors (default %(default)s)")
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "incubator_gluten_spark", "session.py")):
        print(f"perfbench: no incubator_gluten_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    _remove_stale_runs(work)
    data = datagen.ensure_tables(os.path.join(work, "data"), a.scale)

    run_dir = os.path.join(work, f"run-{os.getpid()}")
    for sub in ("tmp", "local", "io"):
        os.makedirs(os.path.join(run_dir, sub))
    span_dir = os.path.join(work, "spans")
    os.makedirs(span_dir, exist_ok=True)
    out_path = os.path.join(run_dir, "result.json")
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # every JVM (the launcher's too) would otherwise keep its counters
        # in /tmp/hsperfdata_<user>, outside the checkout
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--run-dir", run_dir,
        "--spans", os.path.join(span_dir, f"{a.workload}-seed{a.seed}.jsonl"),
        "--out", out_path,
    ]
    # SIGTERM unwinds through the finally blocks, which stop the session
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code, peak_rss = _run_session(cmd, env)
        if code != 0:
            print(f"perfbench: workload process exited with {code}", file=sys.stderr)
            return 1
        with open(out_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.trace:
        layers = dict(res["per_layer"], **{"session.peak_rss_mb": peak_rss / 2**20})
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({"seed": res["seed"], "setup": res["setup"], "orders": res["orders"],
                      "passes": [round(p["s"], 3) for p in res["passes"]],
                      "passes_cpu": [round(p["cpu_s"], 2) for p in res["passes"]],
                      "op_s": {op: [round(p["ops"][op], 3) for p in res["passes"]]
                               for op in res["orders"][0]},
                      "op_cpu_s": {op: [round(p["ops_cpu"][op], 2) for p in res["passes"]]
                                   for op in res["orders"][0]},
                      "oracle_rows": res["oracle_rows"], "failures": res["failures"]}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
