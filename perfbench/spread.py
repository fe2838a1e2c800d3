#!/usr/bin/env python3
"""Steadiness check: run the benchmark once per seed and report, for each
end-to-end metric, the median and the inter-quartile spread as a share of
the median (Python's statistics.quantiles(values, n=4)).

    python3 perfbench/spread.py --workloads curate_stream,retrieve \
        --seeds 1-10 [--out perfbench/results/steadiness.json]

Run from the root of a checkout. Each run is a separate run.py process with
--trace 0 and the run_seconds of BENCHMARK.json. With --out, the per-run
values, medians and spreads are written as JSON (merged into an existing
file, one entry per workload).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    if a.out and os.path.exists(a.out):
        with open(a.out) as f:
            report = json.load(f)
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE,
                stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"{w} seed {s}: run failed (exit {p.returncode})")
            r = json.loads(lines[-1])
            info = json.loads(lines[-2])["info"] if len(lines) > 1 else {}
            runs.append({"seed": s, "wall_s": round(time.time() - t0, 1),
                         "correct": r["correct"], "attempted": r["attempted"],
                         "failed": r["failed"],
                         "loadavg_start": info.get("loadavg_start"),
                         "loadavg_end": info.get("loadavg_end"),
                         "metrics": {k: v["value"] for k, v in r["metrics"].items()}})
            print(f"{w} seed {s}: {runs[-1]}", file=sys.stderr)
        summary = {}
        for m in runs[0]["metrics"]:
            vals = [r["metrics"][m] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            summary[m] = {"median": med, "q1": q1, "q3": q3,
                          "spread": round(spread, 4), "bound": bounds.get(m),
                          "within_third_of_bound":
                              spread < bounds.get(m, 0) / 3}
            print(f"{w:16s} {m:18s} median={med:.4g} spread={spread:.4f} "
                  f"bound={bounds.get(m)}")
        report[w] = {"runs": runs, "summary": summary}
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
