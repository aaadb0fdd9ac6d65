#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports each end-to-end
metric's median, quartiles and spread ((q3 - q1) / median), as the
steadiness check does; with --trace 1 also the per-layer medians, so the
end-to-end medians of a traced and an untraced set give the tracing
overhead.

    python3 perfbench/spread.py --workload W [--seeds 1-10] [--trace 0|1]

Runs whose contention sentinel read "hot" are listed and reported apart:
the statistics cover the quiet runs only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", help="write the runs and the summary as JSON")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(a.seeds):
        cmd = [*bench["command"], "--workload", a.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: FAILED ({p.returncode})\n{p.stderr[-2000:]}", flush=True)
            continue
        result = json.loads(lines[-1])
        with open(os.path.join(ROOT, ".bench_runs",
                               f"{a.workload}-seed{seed}-trace{a.trace}.json")) as f:
            record = json.load(f)
        hot = record["sentinel_verdict"] == "hot"
        runs.append({"seed": seed, "hot": hot, "result": result,
                     "end_to_end": record["end_to_end"],
                     "sentinel_ms": [record["sentinel_pre_ms"], record["sentinel_post_ms"]]})
        vals = {k: round(v, 4) for k, v in record["end_to_end"].items()}
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']}/"
              f"{result['attempted']} {'HOT ' if hot else ''}{vals}", flush=True)
    quiet = [r for r in runs if not r["hot"]]
    summary = {}
    if len(quiet) >= 3:
        for k in quiet[0]["end_to_end"]:
            xs = [r["end_to_end"][k] for r in quiet]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            summary[k] = {"median": med, "q1": q1, "q3": q3,
                          "spread": stats.quartile_spread(xs), "bound": bounds.get(k)}
            b = bounds.get(k)
            flag = "" if b is None else (" OK" if summary[k]["spread"] < b / 3 else
                                         " within bound" if summary[k]["spread"] <= b else
                                         " OVER BOUND")
            print(f"{k}: median={med:.4f} q1={q1:.4f} q3={q3:.4f} "
                  f"spread={summary[k]['spread']:.4f} bound={b}{flag}")
        if a.trace:
            for k in quiet[0]["result"]["metrics"]:
                xs = [r["result"]["metrics"][k]["value"] for r in quiet]
                summary[k] = {"median": statistics.median(xs)}
                print(f"{k}: median={summary[k]['median']:.4f}")
    print(f"runs={len(runs)} quiet={len(quiet)} hot={[r['seed'] for r in runs if r['hot']]}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "runs": runs, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
