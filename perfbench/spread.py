#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workloads crawl_mix corpus_snapshot \
        --seeds 401-410 [--traced-seed 401] [--out perfbench/results/x.json]

Run from the repository root. Runs `run.py` once per (workload, seed), one
run at a time, with the `run_seconds` of BENCHMARK.json, and prints for every
end-to-end metric the median, the quartiles and the spread
(q3 - q1) / median next to the metric's bound. With `--traced-seed`, one
traced run per workload is added. `--out` writes every run's result and the
summaries as JSON.
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


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else {"correct": False}
    stamp = [json.loads(x.split(": ", 1)[1]) for x in lines if x.startswith("perfbench stamp: ")]
    return {
        "stamp": stamp[0] if stamp else None,
        "seed": seed,
        "run_wall_s": round(time.monotonic() - t0, 1),
        "correct": result.get("correct"),
        "attempted": result.get("attempted"),
        "failed": result.get("failed"),
        "metrics": {k: v["value"] for k, v in result.get("metrics", {}).items()},
    }


def summary(runs: list[dict], bounds: dict[str, float]) -> dict:
    out = {}
    for name, bound in bounds.items():
        values = [r["metrics"][name] for r in runs if name in r["metrics"]]
        if len(values) < 2:
            continue
        q1, med, q3 = statistics.quantiles(values, n=4)
        out[name] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                     "bound": bound}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=seeds, required=True, help="N or LO-HI")
    ap.add_argument("--traced-seed", type=int)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for w in args.workloads:
        runs = []
        for seed in args.seeds:
            runs.append(run_once(w, seed, spec["run_seconds"], 0))
            r = runs[-1]
            print("%s seed %d: %.1f s, correct=%s attempted=%s %s" % (
                w, seed, r["run_wall_s"], r["correct"], r["attempted"],
                " ".join("%s=%.4g" % kv for kv in r["metrics"].items())), flush=True)
        entry = {"runs": runs, "summary": summary(runs, bounds)}
        for name, s in entry["summary"].items():
            print("%s %s: median %.4g spread %.3f (bound %.2f)"
                  % (w, name, s["median"], s["spread"], s["bound"]), flush=True)
        if args.traced_seed is not None:
            entry["traced"] = run_once(w, args.traced_seed, spec["run_seconds"], 1)
            print("%s traced: correct=%s" % (w, entry["traced"]["correct"]), flush=True)
        report["workloads"][w] = entry
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
