"""Compare two sets of benchmark records.

    python3 perfbench/compare.py A B

``A`` and ``B`` are directories (or single files) of the JSON records
``perfbench/run.py`` writes under ``.perfbench/results/``. For each
workload and end-to-end metric it prints both sets' medians and
quartiles, the share of run pairs (the i-th run of A against the i-th of
B, by seed) that B wins, and whether B's median is within the metric's
bound of A's (bounds from BENCHMARK.json). When a set holds traced and
untraced runs of a workload, the difference in ``pass_s`` medians is
printed as the tracing overhead. Exit code 1 when a metric is out of bound.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> list[dict]:
    files = [path] if os.path.isfile(path) else [
        os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".json")]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def by_workload(records: list[dict], trace: int) -> dict[str, list[dict]]:
    out = defaultdict(list)
    for r in sorted(records, key=lambda r: (r["seed"], r["started"])):
        if r["trace"] == trace:
            out[r["workload"]].append(r)
    return out


def compare(a: list[dict], b: list[dict], metrics: dict) -> bool:
    ok = True
    wa, wb = by_workload(a, 0), by_workload(b, 0)
    print(f"{'workload':<11} {'metric':<12} {'A median [q1,q3]':>30} {'B median [q1,q3]':>32} "
          f"{'B wins':>7} {'shift':>7} {'bound':>6}  verdict")
    for w in sorted(set(wa) & set(wb)):
        for name, m in metrics.items():
            va = [r["end_to_end"][name]["value"] for r in wa[w]]
            vb = [r["end_to_end"][name]["value"] for r in wb[w]]
            qa, qb = quartiles(va), quartiles(vb)
            lower = m["better"] == "lower"
            pairs = list(zip(va, vb))
            wins = sum((y < x) if lower else (y > x) for x, y in pairs)
            shift = (qb[1] - qa[1]) / qa[1]
            worse = shift if lower else -shift
            within = worse <= m["bound"]
            ok &= within
            print(f"{w:<11} {name:<12} {qa[1]:>12.4g} [{qa[0]:.4g},{qa[2]:.4g}]".ljust(55)
                  + f"{qb[1]:>12.4g} [{qb[0]:.4g},{qb[2]:.4g}]".ljust(33)
                  + f" {wins}/{len(pairs):<5} {shift:>+7.1%} {m['bound']:>6.0%}  "
                  + ("within bound" if within else "OUT OF BOUND"))
    for label, recs in (("A", a), ("B", b)):
        plain, traced = by_workload(recs, 0), by_workload(recs, 1)
        for w in sorted(set(plain) & set(traced)):
            p = statistics.median(r["end_to_end"]["pass_s"]["value"] for r in plain[w])
            t = statistics.median(r["end_to_end"]["pass_s"]["value"] for r in traced[w])
            print(f"{label} {w}: tracing overhead on pass_s {t - p:+.3f} s ({(t - p) / p:+.1%})")
    return ok


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    return 0 if compare(load(argv[0]), load(argv[1]), metrics) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
