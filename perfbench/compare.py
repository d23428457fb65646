"""Compare two sets of benchmark results, e.g. a parent commit and a change.

    python3 perfbench/compare.py parent.jsonl change.jsonl

Both files are ``sweep.py`` outputs made with the same benchmark code and
settings. For each workload and metric the report gives each side's
median and quartiles, the share of seed pairs the change wins (ties count
for neither side), and a verdict:

- ``improved``: the change wins at least 9 in 10 pairs and its median
  beats the parent's by more than the parent's interquartile distance, or
  every run of the change beats every run of the parent;
- ``worse``: the change's median is worse than the parent's by more than
  the metric's bound in ``BENCHMARK.json`` (for a per-layer metric, which
  has no bound: the parent wins 9 in 10 pairs by more than the spread);
- ``unresolved``: neither, and the parent's own spread is wider than the
  bound, so "unchanged" cannot be told apart from noise;
- ``unchanged``: otherwise.

When a file holds both untraced and traced runs of a workload, the
tracing overhead (traced minus untraced ``op_gmean_s``, as medians over
the runs) is printed too.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

from sweep import ROOT, load


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def verdict(a: list[float], b: list[float], pairs: list[tuple[float, float]],
            lower_better: bool, bound: float | None) -> tuple[str, float]:
    sign = 1.0 if lower_better else -1.0
    wins = sum(sign * (y - x) < 0 for x, y in pairs)
    losses = sum(sign * (y - x) > 0 for x, y in pairs)
    share = wins / len(pairs) if pairs else 0.0
    q1a, ma, q3a = quartiles(a)
    _, mb, _ = quartiles(b)
    gain = sign * (ma - mb)  # > 0 when the change is better
    iqr = q3a - q1a
    if pairs and wins >= 0.9 * len(pairs) and gain > iqr:
        return "improved", share
    worst_b, best_a = (max(b), min(a)) if lower_better else (min(b), max(a))
    if sign * worst_b < sign * best_a:  # every change run beats every parent run
        return "improved", share
    if bound is None:
        if pairs and losses >= 0.9 * len(pairs) and -gain > iqr:
            return "worse", share
        return "unchanged", share
    if ma and -gain / abs(ma) > bound:
        return "worse", share
    if ma and iqr / abs(ma) > bound:
        return "unresolved", share
    return "unchanged", share


def overhead(records: list[dict]) -> list[str]:
    out = []
    for wl in sorted({r["workload"] for r in records}):
        plain = [r["result"]["metrics"]["op_gmean_s"]["value"] for r in records
                 if r["workload"] == wl and r["trace"] == 0]
        traced = [r["result"]["metrics"]["trace.op_gmean_s"]["value"] for r in records
                  if r["workload"] == wl and r["trace"] == 1]
        if plain and traced:
            p, t = statistics.median(plain), statistics.median(traced)
            out.append(f"{wl}: tracing overhead {t - p:+.4f} s per op "
                       f"({(t - p) / p:+.1%} of {p:.4f} s untraced)")
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    base, change = load(argv[0]), load(argv[1])
    keys = sorted({(r["workload"], r["trace"]) for r in base}
                  & {(r["workload"], r["trace"]) for r in change})
    print(f"{'workload':>15} {'metric':<36} {'parent median [q1, q3]':>32} "
          f"{'change median [q1, q3]':>32} {'wins':>5}  verdict")
    for wl, tr in keys:
        a_runs = {r["seed"]: r["result"]["metrics"] for r in base
                  if (r["workload"], r["trace"]) == (wl, tr)}
        b_runs = {r["seed"]: r["result"]["metrics"] for r in change
                  if (r["workload"], r["trace"]) == (wl, tr)}
        for name in sorted(set.intersection(*(set(m) for m in [*a_runs.values(),
                                                                 *b_runs.values()]))):
            if name not in spec:
                continue
            a = [m[name]["value"] for m in a_runs.values()]
            b = [m[name]["value"] for m in b_runs.values()]
            pairs = [(a_runs[s][name]["value"], b_runs[s][name]["value"])
                     for s in sorted(a_runs.keys() & b_runs.keys())]
            v, share = verdict(a, b, pairs, spec[name]["better"] == "lower",
                               spec[name].get("bound"))
            qa, qb = quartiles(a), quartiles(b)
            print(f"{wl:>15} {name:<36} {qa[1]:>12.5g} [{qa[0]:.5g}, {qa[2]:.5g}]"
                  f" {qb[1]:>12.5g} [{qb[0]:.5g}, {qb[2]:.5g}] {share:>5.0%}  {v}")
    for label, recs in (("parent", base), ("change", change)):
        for line in overhead(recs):
            print(f"{label} {line}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
