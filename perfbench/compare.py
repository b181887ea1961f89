"""Compare two sets of benchmark runs against the benchmark's bounds.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds the standard output of any number of ``run.py`` runs
(one ``{"record": ...}`` line per run; other lines are ignored).  For
every workload and end-to-end metric it prints the median and the
run-to-run spread of both sides (quartile distance / median, as
``statistics.quantiles(n=4)`` gives it) and a verdict against the
metric's bound from BENCHMARK.json:

* ``unresolved`` — a side's spread is wider than the bound, unless
  every new run is better than every base run;
* ``worse`` / ``better`` — the medians differ by more than the bound;
* ``same`` — otherwise.

The walls and ``failed_frac`` that every record carries follow
with the verdict ``unbounded``: they have no bound in BENCHMARK.json.

Traced runs (``--trace 1``) in a file are set against its untraced runs
of the same workload, and their ``cpu_ms_per_item`` and ``op_p50_ms``
ratios are printed as the tracing overhead.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# record values without a bound: name, which way is better
UNBOUNDED = (("op_p50_ms", "lower"), ("op_p90_ms", "lower"), ("items_per_s", "higher"),
             ("failed_frac", "lower"))


def load(path: str) -> list[dict]:
    out = []
    with open(path) as f:
        for line in f:
            if line.startswith('{"record"'):
                out.append(json.loads(line)["record"])
    return out


def spread(values: list[float]) -> float:
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return 0.0
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / abs(med)


def by_workload(records: list[dict], trace: int) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in records:
        if r["trace"] == trace:
            out.setdefault(r["workload"], []).append(r["end_to_end"])
    return out


def verdict(base: list[float], new: list[float], better: str,
            bound: float | None) -> tuple[float, str]:
    mb, mn = statistics.median(base), statistics.median(new)
    sign = 1.0 if better == "lower" else -1.0
    worse = sign * (mn - mb) / abs(mb) if mb else 0.0
    if bound is None:
        return worse, "unbounded"
    wins = (max(new) < min(base)) if better == "lower" else (min(new) > max(base))
    if max(spread(base), spread(new)) > bound and not wins:
        return worse, "unresolved"
    if worse > bound:
        return worse, "worse"
    if -worse > bound:
        return worse, "better"
    return worse, "same"


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, new = load(argv[1]), load(argv[2])
    bw, nw = by_workload(base, 0), by_workload(new, 0)
    print(f"{'workload':<10} {'metric':<15} {'base':>12} {'new':>12} {'spread b/n':>12} "
          f"{'worse':>7} {'bound':>6}  verdict")
    rows = [(m["name"], m["better"], m["bound"]) for m in spec["end_to_end"]]
    rows += [(name, better, None) for name, better in UNBOUNDED]
    for wl in sorted(set(bw) & set(nw)):
        for name, better, bound in rows:
            b = [r[name] for r in bw[wl]]
            n = [r[name] for r in nw[wl]]
            worse, v = verdict(b, n, better, bound)
            shown = f"{bound:>6.0%}" if bound is not None else f"{'-':>6}"
            print(f"{wl:<10} {name:<15} {statistics.median(b):>12.4g} "
                  f"{statistics.median(n):>12.4g} {spread(b):>5.1%}/{spread(n):<6.1%} "
                  f"{worse:>+7.1%} {shown}  {v}  (runs {len(b)}/{len(n)})")
    for label, recs in (("base", base), ("new", new)):
        plain, traced = by_workload(recs, 0), by_workload(recs, 1)
        for wl in sorted(set(plain) & set(traced)):
            ratios = []
            for name in ("cpu_ms_per_item", "op_p50_ms"):
                p = statistics.median(r[name] for r in plain[wl])
                t = statistics.median(r[name] for r in traced[wl])
                ratios.append(f"{name} {t / p - 1:+.1%}")
            print(f"tracing overhead ({label}, {wl}): {', '.join(ratios)} "
                  f"({len(traced[wl])} traced / {len(plain[wl])} untraced runs)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
