"""The Spark driver process of one benchmark run.

``run.py`` starts this file in its own process (and process group) with
the run directory as working directory, so the Spark session, its JVM
and Python workers, the warehouse and every scratch file live inside the
run directory and die with it.  The child writes an op log
(``ops.jsonl``, one line per event, flushed as it goes) that ``run.py``
turns into the end-to-end metrics, so a run cut at its time limit still
reports every op it finished.

Events: ``setup`` (set-up wall, planned op count, closed loop or not),
``op`` (kind, wall, CPU seconds of the process tree, ok, wrong output,
items, busy seconds, completion time since the loop started) and, in a traced run, ``check`` (an output
checked outside the ops: pipeline's eps join), ``plan`` (serve: the
optimized-plan lines of the service state after an op) and ``layers``
(every per-layer metric) — also written when ``run.py`` stops the child
with SIGTERM at its time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

T_START = time.time()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import workloads  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402


class OpLog:
    def __init__(self, path: str):
        self._f = open(path, "a")

    def write(self, **event) -> None:
        self._f.write(json.dumps(event) + "\n")
        self._f.flush()

    def close(self) -> None:
        self._f.close()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--rundir", required=True)
    args = ap.parse_args()

    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    oplog = OpLog(os.path.join(args.rundir, "ops.jsonl"))
    wl = workloads.WORKLOADS[args.workload](
        seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        rundir=args.rundir, tracer=tracer, oplog=oplog)

    def finish(*_sig):
        # Python-only work: the Spark session may be mid-call when the
        # time limit runs out, so nothing here calls into the JVM.
        if args.trace:
            oplog.write(t="layers", metrics=wl.layer_metrics())
            tracer.dump(os.path.join(args.rundir, "spans.jsonl"))
        oplog.close()
        if _sig:
            os._exit(0)

    signal.signal(signal.SIGTERM, finish)
    wl.setup()
    oplog.write(t="setup", setup_s=time.time() - T_START, planned=wl.planned,
                closed_loop=wl.closed_loop)
    try:
        wl.run()
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        finish()
    return 0


if __name__ == "__main__":
    sys.exit(main())
