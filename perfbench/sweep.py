#!/usr/bin/env python3
"""Repeat the benchmark over seeds and report each metric's spread.

    python3 perfbench/sweep.py --workloads backfill,tail --seeds 1-10 \
        --seconds 15 [--trace 0|1] [--out FILE]

Each run is a separate ``perfbench/run.py`` process, as in a normal
invocation. Per workload and metric it prints the median, the interquartile
range as a share of the median (``statistics.quantiles(n=4)``) and the
process walls. With ``--trace 1`` the runs are traced, and ``--compare
FILE`` sets a traced sweep's end-to-end medians (read from the records
under ``.perfbench_work/results``) beside an untraced sweep saved with
``--out``: the tracing overhead.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def newest_record(workload: str, seed: int, trace: int) -> dict:
    pat = os.path.join(ROOT, ".perfbench_work", "results",
                       f"{workload}-s{seed}-t{trace}-*.json")
    with open(max(glob.glob(pat), key=os.path.getmtime)) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="backfill,tail")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--compare")
    args = ap.parse_args()
    results: dict = {}
    for w in args.workloads.split(","):
        runs = []
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.time() - t0
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(last) if p.returncode == 0 else {}
            e2e = newest_record(w, s, args.trace)["end_to_end"] if res else {}
            runs.append({"seed": s, "wall": wall, "rc": p.returncode, "result": res,
                         "end_to_end": e2e})
            print(f"{w} seed {s}: rc {p.returncode} wall {wall:.1f}s "
                  f"correct {res.get('correct')} failed {res.get('failed')}", flush=True)
        results[w] = runs
        ok = [r for r in runs if r["result"]]
        print(f"== {w}: walls median {statistics.median(r['wall'] for r in runs):.1f}s "
              f"max {max(r['wall'] for r in runs):.1f}s")
        names = ok[0]["result"]["metrics"] if ok else {}
        for m in names:
            vals = [r["result"]["metrics"][m]["value"] for r in ok]
            sp = spread(vals) if len(vals) >= 2 else float("nan")
            print(f"   {m:40s} median {statistics.median(vals):12.6g} "
                  f"spread {sp:7.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    if args.compare:
        with open(args.compare) as f:
            base = json.load(f)
        print("== tracing overhead: traced / untraced end-to-end medians, same seeds")
        for w, runs in results.items():
            traced = {r["seed"] for r in runs}
            untraced = [r for r in base[w] if r["seed"] in traced]
            for m in runs[0]["end_to_end"]:
                t = statistics.median(r["end_to_end"][m] for r in runs)
                u = statistics.median(r["result"]["metrics"][m]["value"] for r in untraced)
                print(f"   {w:9s} {m:24s} traced {t:12.6g} untraced {u:12.6g} "
                      f"ratio {t / u if u else float('nan'):6.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
