"""Repository benchmark: run one workload, print one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The workload runs in a child
process (perfbench/worker.py: one Spark driver, ``local[<cores>]``, a
closed loop with one operation in flight). This process samples the RSS
of the whole process tree from /proc, enforces a deadline, stops every
process left behind, and computes the metrics from the records the
child wrote. With ``--trace 0`` it prints the end-to-end metrics; with
``--trace 1`` it runs the workload twice in separate processes, untraced
then traced, and prints the per-layer metrics and the tracing overhead.
Everything it writes stays under ``.bench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# whole-run limit, below the 180 s a run may take
DEADLINE_S = 174.0
PAGE = os.sysconf("SC_PAGE_SIZE")
# The driver JVM's heap: fixed in size and touched at start (worker.py),
# so its share of peak_rss_mb is this constant. Left to grow from the
# program's 16g default, the heap's size followed the collector's timing
# and peak RSS spread by ~20% (quartile distance over median) across
# runs of one workload. py_workers_rss_mb follows what the program's
# Python side touches.
JVM_HEAP = "2g"


def proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> dict[int, int]:
    """Every process below ``pid``, with its depth (1 for a child)."""
    kids = proc_children()
    out, todo = {}, [(pid, 0)]
    while todo:
        p, depth = todo.pop()
        for c in kids.get(p, []):
            out[c] = depth + 1
            todo.append((c, depth + 1))
    return out


def is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def rss_bytes(pid: int) -> int:
    """A process's resident set now (0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError):
        return 0


class RssSampler(threading.Thread):
    """Peak RSS of the process tree below this one (the worker, its JVM
    and the JVM's Python workers): the largest sum, over one poll every
    0.1 s, of the live processes' resident sets; and the same peak over
    the Python processes below the JVM (this -> worker.py -> JVM), which
    run the program's kernels.

    A process counts from its second poll on. A child the JVM or Python
    spawns shares its parent's memory until it calls exec, and a poll in
    that window would count the parent twice; such helpers (Hadoop's
    shell commands, the Python daemon before exec) leave that state
    within microseconds, so a process seen twice is past it."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = self.peak_py = 0
        self._seen: set[int] = set()
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.wait(0.1):
            tree = descendants(me)
            rss = {p: rss_bytes(p) for p in tree if p in self._seen}
            self.peak = max(self.peak, sum(rss.values()))
            self.peak_py = max(self.peak_py, sum(
                v for p, v in rss.items() if tree[p] >= 3 and is_python(p)))
            self._seen.update(tree)

    def stop(self):
        self._stop_evt.set()
        self.join()


def stop_tree(grace_s: float = 10.0) -> list[int]:
    """Wait for every descendant to exit, then terminate and kill the
    stragglers and reap them. Returns the pids that had to be killed."""
    me = os.getpid()
    end = time.monotonic() + grace_s
    while descendants(me) and time.monotonic() < end:
        reap()
        time.sleep(0.1)
    killed = descendants(me)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in descendants(me):
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 3.0
        while descendants(me) and time.monotonic() < end:
            reap()
            time.sleep(0.05)
    reap()
    return killed


def reap():
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def run_worker(args, trace: int, out_dir: str, budget_s: float) -> dict:
    os.makedirs(os.path.join(out_dir, "tmp"), exist_ok=True)
    env = dict(
        os.environ,
        TMPDIR=os.path.join(out_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(out_dir, "spark"),
        SPARK_DRIVER_MEMORY=JVM_HEAP,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
        OPENBLAS_NUM_THREADS="1",
        OMP_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        # every JVM Spark starts: temp files inside the run directory,
        # no hsperfdata under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(out_dir, 'tmp')} -XX:-UsePerfData",
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace), "--out", out_dir]
    sampler = RssSampler()
    with open(os.path.join(out_dir, "worker.log"), "w") as log:
        child = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 cwd=ROOT)
        sampler.start()
        try:
            code = child.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            code = None
        sampler.stop()
    killed = stop_tree(grace_s=0.0 if code is None else 10.0)
    child.wait()
    recs = []
    try:
        with open(os.path.join(out_dir, "records.jsonl")) as f:
            recs = [json.loads(line) for line in f if line.strip()]
    except OSError:
        pass
    for sub in ("spark", "tmp", "spark-warehouse"):
        shutil.rmtree(os.path.join(out_dir, sub), ignore_errors=True)
    for name in os.listdir(out_dir):
        if name.startswith("warehouse"):
            shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)
    return {"code": code, "records": recs, "peak_rss": sampler.peak,
            "peak_py_rss": sampler.peak_py,
            "killed": killed, "log": os.path.join(out_dir, "worker.log")}


def summarize(run: dict) -> dict:
    """End-to-end figures of one worker run, over the operations the
    worker marks as timed (ε-graph builds, base-index query batches).
    Every figure is an order statistic of the whole window: throughput
    is the median of the operations' own rates, the tail their 90th
    percentile (interpolated, so it does not jump with the count)."""
    recs = run["records"]
    setups = [r for r in recs if r["type"] == "setup"]
    warm_setups = [r["s"] for r in setups if not r["cold"]]
    ops = [r for r in recs if r["type"] == "op"]
    timed = [r for r in ops if r["timed"]]
    durs = [r["s"] for r in timed]
    rates = [r["items"] / r["s"] for r in timed if r["ok"]]
    crashed = run["code"] != 0 or not any(r["type"] == "end" for r in recs)
    failed = sum(1 for r in ops if not r["ok"]) + int(crashed)
    attempted = len(ops) + len(setups) + int(crashed)
    return {
        "setups": setups, "ops": ops, "timed": timed, "crashed": crashed,
        "failed": failed, "attempted": max(attempted, 1),
        "e2e": {
            "setup_s": statistics.median(warm_setups) if warm_setups else float("nan"),
            "items_per_s": statistics.median(rates) if rates else float("nan"),
            "op_p50_s": statistics.median(durs) if durs else float("nan"),
            "op_tail_s": (statistics.quantiles(durs, n=10, method="inclusive")[-1]
                          if len(durs) > 1 else float("nan")),
            "peak_rss_mb": run["peak_rss"] / 2**20,
            "py_workers_rss_mb": run["peak_py_rss"] / 2**20,
        },
        "cold_setup_s": sum(r["s"] for r in setups if r["cold"]),
    }


def layer_metrics(s: dict, untraced: dict) -> dict:
    """Per-layer figures of the traced run: per operation the median of
    its timed operations, per set-up step the median over warm set-ups."""
    vals: dict[str, list] = {}
    for r in s["setups"]:
        for k, v in (r["layers"] if not r["cold"] else {}).items():
            vals.setdefault(k, []).append(v)
    for r in s["ops"]:
        if not r["warmup"]:
            for k, v in r["layers"].items():
                vals.setdefault(k, []).append(v)
    out = {k: statistics.median(v) for k, v in vals.items()}
    for r in s["run"]["records"]:
        if r["type"] == "static":
            out.update(r["layers"])
    out["bench.warmup_ops"] = sum(1 for r in s["ops"] if r["warmup"])
    out["bench.timed_ops"] = len(s["timed"])
    out["bench.cold_setup_s"] = s["cold_setup_s"]
    out["trace.overhead_ratio"] = s["e2e"]["op_p50_s"] / untraced["e2e"]["op_p50_s"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        print(f"cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "covertree_spark", "__init__.py")):
        print("covertree_spark sources not found next to perfbench/", file=sys.stderr)
        return 2

    # orphans of the worker (Spark's JVM and Python workers) re-parent
    # to this process, so stop_tree can find, stop and reap them
    PR_SET_CHILD_SUBREAPER = 36
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong,
                      ctypes.c_ulong]
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"prctl failed: {os.strerror(ctypes.get_errno())}", file=sys.stderr)
        return 2

    out_root = os.path.join(ROOT, ".bench_out",
                            f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    t0 = time.monotonic()
    passes = [0, 1] if args.trace else [0]
    runs = []
    for trace in passes:
        budget = DEADLINE_S - (time.monotonic() - t0)
        if args.trace and trace == 0:
            budget /= 2
        out_dir = os.path.join(out_root, f"trace{trace}")
        os.makedirs(out_dir, exist_ok=True)
        run = run_worker(args, trace, out_dir, budget)
        s = summarize(run)
        s["run"] = run
        runs.append(s)
        for r in s["ops"]:
            if not r["ok"]:
                print(f"failed {r['kind']} op: {'; '.join(r['errors'])}", file=sys.stderr)
        if s["crashed"]:
            print(f"worker (trace {trace}) exit code {run['code']}; "
                  f"log: {run['log']}", file=sys.stderr)
        if run["killed"]:
            print(f"stopped leftover processes {run['killed']}", file=sys.stderr)

    final = runs[-1]
    failed = sum(s["failed"] for s in runs)
    attempted = sum(s["attempted"] for s in runs)
    e2e = final["e2e"]
    oracle_ok = not any(not r["ok"] for s in runs for r in s["ops"])
    correct = failed == 0 and oracle_ok and bool(final["timed"])
    print(f"workload {args.workload} seed {args.seed}: "
          f"{len(final['timed'])} timed ops, "
          f"{sum(1 for r in final['ops'] if r['warmup'])} warm-up ops, "
          f"{len(final['setups'])} set-ups; oracle "
          f"{'ok' if oracle_ok else 'MISMATCH'}; failed_ops_ratio "
          f"{failed / attempted:.4f}; op_tail_s is p90 of "
          f"{len(final['timed'])} ops")
    if args.trace:
        values = layer_metrics(final, runs[0])
        declared = spec["per_layer"]
    else:
        values = e2e
        declared = spec["end_to_end"]
    metrics = {}
    for m in declared:
        v = float(values.get(m["name"], 0.0))
        if not math.isfinite(v):  # only after a crash; correct is false then
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"  {m['name']:<40} {v:>14.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
