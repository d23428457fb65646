"""Run the benchmark over several seeds and record every result.

    python3 perfbench/sweep.py --workloads etl_load,bi_star --seeds 1-10 \\
        --trace 0 --out results.jsonl

Each run's last output line is appended to ``--out`` as
``{"workload", "seed", "trace", "result"}``; ``compare.py`` reads these
files. At the end the sweep prints, per workload and metric, the median
and the spread (third minus first quartile, as a share of the median)
next to the metric's bound in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def table(records: list[dict], bench: dict) -> None:
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    by: dict[tuple[str, str], list[float]] = {}
    for r in records:
        for name, m in r["result"]["metrics"].items():
            by.setdefault((r["workload"], name), []).append(m["value"])
    for (wl, name), vals in sorted(by.items()):
        bound = bounds.get(name)
        sp = spread(vals) if len(vals) >= 2 else float("nan")
        flag = "" if bound is None else ("ok" if sp <= bound / 3 else "WIDE")
        print(f"{wl:>15} {name:<40} n={len(vals):<3} median={statistics.median(vals):<12.6g} "
              f"spread={sp:<8.4f} bound={bound} {flag}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    records = []
    for wl in args.workloads.split(","):
        for seed in seeds(args.seeds):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            t0 = time.monotonic()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            wall = time.monotonic() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}",
                      file=sys.stderr)
                return 1
            rec = {"workload": wl, "seed": seed, "trace": args.trace,
                   "result": json.loads(lines[-1])}
            records.append(rec)
            with open(args.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(f"{wl} seed {seed} ({wall:.1f} s): " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in rec["result"]["metrics"].items()
                if args.trace == 0), flush=True)
    table(records, bench)
    return 0


if __name__ == "__main__":
    sys.exit(main())
