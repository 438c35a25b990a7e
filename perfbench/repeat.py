"""Run one workload over several seeds and summarise each metric.

    python3 perfbench/repeat.py --workload serve --seeds 1-10 --seconds 10 [--trace 0] [--out FILE]

Run from the repository root.  Each seed is one ``perfbench/run.py`` run.
For every metric it prints the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``) and their distance as a share of the
median, the spread that ``BENCHMARK.json`` bounds.  ``--out FILE`` also
stores the summary and every run's values in FILE (``perfbench/BASELINE.json``
holds the baseline), replacing only this workload's entry.
"""

from __future__ import annotations

import argparse
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


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(prog="perfbench/repeat.py")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="'1-10' or '3,5,8'")
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    ap.add_argument("--out")
    args = ap.parse_args()

    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}", flush=True)
            return 1
        res = json.loads(lines[-1])
        runs.append({"seed": seed, "wall_s": wall, **res})
        shown = " ".join(f"{k}={v['value']:.5g}" for k, v in res["metrics"].items()) if args.trace == "0" else ""
        print(f"seed {seed}: {wall:.1f}s correct={res['correct']} {shown}", flush=True)

    names = list(runs[0]["metrics"])
    summary = {
        k: {"unit": runs[0]["metrics"][k]["unit"], **summarise([r["metrics"][k]["value"] for r in runs])}
        for k in names
    }
    summary["run_wall_s"] = {"unit": "s", **summarise([r["wall_s"] for r in runs])}
    for k, s in summary.items():
        print(f"{k:44s} median={s['median']:<12.5g} q1={s['q1']:<12.5g} q3={s['q3']:<12.5g} spread={s['spread']:.4f}")
    if args.out:
        # one file holds every workload's baseline; this run replaces its own entry
        base = {"claim": None, "workloads": {}}
        if os.path.exists(args.out):
            with open(args.out) as fh:
                base = json.load(fh)
        base["workloads"][f"{args.workload}/trace={args.trace}"] = {
            "seconds": float(args.seconds), "seeds": [r["seed"] for r in runs], "summary": summary,
            "values": {k: [r["metrics"][k]["value"] for r in runs] for k in names},
        }
        with open(args.out, "w") as fh:
            json.dump(base, fh, indent=1)
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
