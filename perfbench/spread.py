#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --seeds 1-10 [--workloads a,b] [--out spread.json]
    python3 perfbench/spread.py --seeds 11-20 --compare spread.json

Runs BENCHMARK.json's command once per workload and seed, one run at a
time, and prints for every end-to-end metric the median of the runs and
the distance between the first and third quartiles (Python's
statistics.quantiles, n=4) as a share of the median, next to the
metric's bound.  With --compare, it also prints how far each median moved
from the median of an earlier set of runs (an --out file), in the
metric's worse direction, as a share of the earlier median.  Run from
the repository root.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import subprocess
import sys
import time

PRINTED = re.compile(r"(\w+) = ([-+.\de]+) \S+ \(")


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default="")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--seconds", type=int, default=0, help="default: BENCHMARK.json's run_seconds")
    p.add_argument("--out", default="")
    p.add_argument("--compare", default="", help="an earlier --out file")
    a = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    earlier = {}
    if a.compare:
        with open(a.compare) as f:
            earlier = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    runs: dict[str, list[dict]] = {}
    for w in workloads:
        for seed in _seeds(a.seeds):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(seconds), "--trace", str(a.trace)]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
            line = json.loads(last) if proc.returncode == 0 else {}
            line["wall_s"], line["seed"], line["returncode"] = wall, seed, proc.returncode
            line["notes"] = [t[2:] for t in proc.stdout.splitlines() if t.startswith("# ")]
            # numbers a run prints but does not gate: "# name = value unit (...)"
            line["printed"] = {m[1]: float(m[2]) for m in map(PRINTED.match, line["notes"]) if m}
            runs.setdefault(w, []).append(line)
            print(f"{w} seed {seed}: rc={proc.returncode} wall {wall:.1f} s "
                  f"correct={line.get('correct')} failed={line.get('failed')}", flush=True)
    for w, lines in runs.items():
        print(f"\n{w}: {len(lines)} runs, mean wall {statistics.mean(r['wall_s'] for r in lines):.1f} s")
        names = sorted({n for r in lines for n in r.get("metrics", {})})
        for n in names:
            vals = [r["metrics"][n]["value"] for r in lines if n in r.get("metrics", {})]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(n)
            flag = "" if bound is None or spread < bound / 3 else "  <-- above bound/3"
            before = [r["metrics"][n]["value"] for r in earlier.get(w, []) if n in r.get("metrics", {})]
            if before and statistics.median(before):
                m0 = statistics.median(before)
                worse = (med - m0) / m0 if better.get(n, "lower") == "lower" else (m0 - med) / m0
                flag = f"  worse than --compare by {worse:+.3f}" + flag
            print(f"  {n:28s} median {med:12.6g}  spread {spread:7.3f}  bound {bound}{flag}")
        for n in sorted({n for r in lines for n in r.get("printed", {})}):
            vals = [r["printed"][n] for r in lines if n in r.get("printed", {})]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            print(f"  {n:28s} median {med:12.6g}  spread {(q3 - q1) / med if med else float('nan'):7.3f}  (printed, not gated)")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
