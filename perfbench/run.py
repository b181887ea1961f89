"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a geotile checkout.  The workload runs in a child
Spark driver process (``child.py``) on ``local[nproc]`` inside a
scratch directory ``.perfbench/run-*`` of the checkout; this process
starts no Spark itself.  It tracks the child's whole process tree
(driver JVM, Python driver, Python workers) through /proc and, in a
traced run, samples its resident memory (PSS).  It stops a run that
outlives its time limit, turns the child's op log into the metrics,
records the host state, and stops every process the run started before
it exits.

Output: a ``{"record": ...}`` line (host state, op walls and CPU times,
every end-to-end value, where the spans went), then the result line
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` the per-layer metrics.  Exits non-zero without a result
when the program under test is missing or the child fails to set up.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("pipeline", "serve")
# geotile's environment switches; the run pins or clears each one so the
# caller's environment cannot change what is measured
GEOTILE_ENV = ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_CLUSTER_WRITE",
               "SPARK_GRAFT_MAX_PARTITION_BYTES", "SPARK_GRAFT_PAGES_PARTITIONS")
SETUP_LIMIT_S = 120.0     # child must finish set-up within this
RUN_LIMIT_S = 160.0       # whole run, under three minutes
SAMPLE_S = 0.5


def contention_probe() -> float:
    """Wall seconds of a fixed pure-Python loop (bench.py's probe, a tenth
    of its size): a co-loaded host reads slow here before it does in
    the metrics."""
    t0 = time.perf_counter()
    n = 0
    for i in range(3_000_000):
        n += i * i
    return time.perf_counter() - t0


def host_state() -> dict:
    return {"loadavg": list(os.getloadavg()), "probe_s": contention_probe(),
            "cpu": procfs.host_cpu_s(), "time": time.time()}


def steal_frac(before: dict, after: dict) -> float:
    """Share of the host's CPU time the hypervisor stole between two
    host states: a co-loaded host shows here."""
    d = {k: after["cpu"][k] - before["cpu"][k] for k in before["cpu"]}
    return d["steal_s"] / max(sum(d.values()), 1e-9)


def _pss_bytes(pid: int) -> int:
    """Proportional resident memory of one process: pages shared with its
    forks (Python workers fork from one daemon) count once across them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


class ProcTree:
    """Descendants of one pid, found through /proc ppid links; remembers
    every descendant it has seen so orphans can still be stopped."""

    def __init__(self, pid: int):
        self.root = pid
        self.seen: dict[int, str] = {}   # pid -> starttime, guards pid reuse
        self.peak_rss_b = 0

    def sample(self, pss: bool) -> int:
        """Records the tree's pids; with ``pss``, returns the tree's total
        PSS bytes now and tracks the peak.  Reading the JVM's PSS costs
        about 27 ms of kernel time under the JVM's memory-map lock, so
        untraced runs, which report no memory, skip it."""
        rss = 0
        for p, st in procfs.tree(self.root).items():
            self.seen.setdefault(p, st[1])
            if pss:
                rss += _pss_bytes(p)
        self.peak_rss_b = max(self.peak_rss_b, rss)
        return rss

    def alive(self) -> list[int]:
        return [p for p, t in self.seen.items()
                if (st := procfs.stat(p)) and st[1] == t]

    def stop_all(self, wait_s: float = 10.0) -> None:
        for p in self.alive():
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        t_end = time.time() + wait_s
        while self.alive() and time.time() < t_end:
            time.sleep(0.1)


def read_events(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as f:
        for line in f:
            try:
                out.append(json.loads(line))
            except json.JSONDecodeError:
                pass   # a line cut by the time-limit kill
    return out


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default)."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def end_to_end(events: list[dict], killed: bool) -> tuple[dict, int, int, bool]:
    """End-to-end values from the op log, plus attempted, failed and
    whether every output checked correct.

    ``attempted`` counts the ops that ran to the end and ``failed`` those
    among them with a wrong output, plus any failed ``check`` event (an
    output checked outside the ops, such as the traced eps join).
    ``failed_frac`` also counts ops that finished after the window, an op
    cut by the run limit and the ops of a planned session (serve) never
    reached: it is failed ops over the ops the session planned.  Latency,
    throughput and CPU cover every op that ran to the end with a right
    output, in the window or after it.

    ``cpu_ms_per_item`` is the CPU time of the driver's process tree
    (JVM, Python driver, Python workers) during the ops, per item: per
    page on pipeline, per endpoint call on serve.  It is the bounded
    cost figure.  The walls (``op_p50_ms``, ``op_p90_ms``,
    ``items_per_s``) stay in the record: on a co-loaded host they grow
    with the time the hypervisor steals, which CPU time does not count."""
    setup = next(e for e in events if e["t"] == "setup")
    ops = [e for e in events if e["t"] == "op"]
    ok = [o for o in ops if o["ok"]]
    done = [o for o in ops if not o["wrong"]]
    attempted = max(len(ops), 1)
    failed = sum(1 for o in ops if o["wrong"]) + sum(
        1 for e in events if e["t"] == "check" and not e["ok"])
    planned = max(setup["planned"] or 0, len(ops) + (1 if killed else 0), 1)
    if setup["closed_loop"]:
        # completed ops over the time the loop took to complete them
        rate_wall = max((o["t_s"] for o in done), default=0.0)
    else:
        rate_wall = sum(o["busy_s"] for o in done)
    ms = [o["ms"] for o in ops] or [0.0]
    metrics = {
        "setup_s": setup["setup_s"],
        "op_p50_ms": percentile(ms, 50),
        "op_p90_ms": percentile(ms, 90),
        "items_per_s": sum(o["items"] for o in done) / rate_wall if rate_wall else 0.0,
        "cpu_ms_per_item": (sum(o["cpu_s"] for o in done) * 1e3
                            / max(sum(o["items"] for o in done), 1)),
        "failed_frac": (planned - len(ok)) / planned,
    }
    # a wrong output makes the run incorrect; an op cut by the time limit
    # does not, it only counts in failed_frac
    correct = bool(ok) and not failed
    return metrics, attempted, failed, correct


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "geotile", "pipeline.py")):
        print("perfbench: no geotile package under the working directory; "
              "run from the root of a geotile checkout", file=sys.stderr)
        return 2

    before = host_state()
    base = os.path.join(ROOT, ".perfbench")
    tag = f"{args.workload}-{args.seed}-{args.trace}"
    rundir = os.path.join(base, f"run-{tag}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(rundir, d))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(rundir, "local"),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "TMPDIR": os.path.join(rundir, "tmp"),
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={os.path.join(rundir, 'tmp')} "
                            "-XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    for k in GEOTILE_ENV:
        env.pop(k, None)
    cmd = [sys.executable, os.path.join(HERE, "child.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--rundir", rundir]
    ops_path = os.path.join(rundir, "ops.jsonl")
    t_spawn = time.time()
    with open(os.path.join(rundir, "child.log"), "w") as log:
        child = subprocess.Popen(cmd, cwd=rundir, env=env, stdout=log, stderr=log,
                                 start_new_session=True)
    tree = ProcTree(child.pid)
    setup = None
    killed = False
    window_rss: list[int] = []   # samples after set-up, while ops run
    while child.poll() is None:
        rss = tree.sample(pss=bool(args.trace))
        if setup is not None and args.trace:
            window_rss.append(rss)
        now = time.time()
        if setup is None:
            setup = next((e for e in read_events(ops_path) if e["t"] == "setup"), None)
        # the workload stops starting ops when its window closes and lets
        # the op in flight complete; these limits only stop a run that hangs
        if now > t_spawn + (SETUP_LIMIT_S if setup is None else RUN_LIMIT_S):
            killed = True
            child.send_signal(signal.SIGTERM)   # child writes its spans and exits
            try:
                child.wait(timeout=5)
            except subprocess.TimeoutExpired:
                pass
            break
        time.sleep(SAMPLE_S)
    tree.stop_all()
    child.wait()

    events = read_events(ops_path)
    layers = next((e["metrics"] for e in events if e["t"] == "layers"), None)
    spans = os.path.join(rundir, "spans.jsonl")
    spans_out = None
    if os.path.exists(spans):
        out_dir = os.path.join(base, "out")
        os.makedirs(out_dir, exist_ok=True)
        spans_out = os.path.join(out_dir, f"spans-{tag}.jsonl")
        shutil.move(spans, spans_out)
    with open(os.path.join(rundir, "child.log")) as f:
        child_log = f.read()
    shutil.rmtree(rundir, ignore_errors=True)
    if setup is None or (args.trace and layers is None):
        sys.stderr.write(child_log[-4000:])
        print(f"perfbench: {args.workload} failed before producing its metrics",
              file=sys.stderr)
        return 1
    e2e, attempted, failed, correct = end_to_end(events, killed)
    if args.trace:
        e2e["peak_rss_mb"] = tree.peak_rss_b / 2**20
        e2e["rss_mb"] = percentile(window_rss or [tree.peak_rss_b], 50) / 2**20
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # the harness's own memory samples are the process layer's numbers
    values = {**layers, "failed_frac": e2e["failed_frac"], "process.rss_mb": e2e["rss_mb"],
              "process.peak_rss_mb": e2e["peak_rss_mb"]} if args.trace else e2e
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[kind]}
    after = host_state()
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "cores": len(os.sched_getaffinity(0)),
              "killed_at_limit": killed, "host_before": before,
              "host_after": after, "steal_frac": steal_frac(before, after),
              "ops": sum(e["t"] == "op" for e in events),
              "op_ms": [e["ms"] for e in events if e["t"] == "op"],
              "op_cpu_ms": [e["cpu_s"] * 1e3 for e in events if e["t"] == "op"],
              "plan_lines": [e["lines"] for e in events if e["t"] == "plan"] or None,
              "end_to_end": e2e, "layers": layers,
              "spans": spans_out and os.path.relpath(spans_out, ROOT)}
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
