"""Steadiness check: runs the benchmark over several seeds and reports,
per workload and end-to-end metric, the spread of the per-run values
((Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives them),
the within-run spread and trend of pass times, and, when two sets are
run, how far the second set's median moved from the first's.

    python3 perfbench/steadiness.py --workloads tables,images \
        --seeds 1-10 [--sets 2] [--out perfbench/evidence/steadiness.json]

Bounds come from BENCHMARK.json at the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(workload, seed, seconds):
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    steady = next(json.loads(x[len("# steadiness "):]) for x in lines
                  if x.startswith("# steadiness "))
    env = next(json.loads(x[len("# env "):]) for x in lines if x.startswith("# env "))
    return json.loads(lines[-1]), steady, env


def spread(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--out")
    a = p.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        sets = []
        for _ in range(a.sets):
            runs = [run(w, s, bench["run_seconds"]) for s in range(lo, hi + 1)]
            sets.append(runs)
            for (res, steady, env), s in zip(runs, range(lo, hi + 1)):
                print(f"{w} seed {s}: correct={res['correct']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                      + f" load={env['loadavg_before'][0]} steal={env['steal_frac']:.3f}",
                      flush=True)
        rep = {}
        for m in bounds:
            per_set = [[r[0]["metrics"][m]["value"] for r in runs] for runs in sets]
            rep[m] = {"bound": bounds[m], "spread": [spread(v) for v in per_set],
                      "median": [statistics.median(v) for v in per_set]}
            if len(per_set) == 2:
                rep[m]["second_vs_first"] = rep[m]["median"][1] / rep[m]["median"][0] - 1
        within = [r[1] for runs in sets for r in runs]
        rep["within_run"] = {
            "pass_spread_median": statistics.median(x["pass_spread"] for x in within),
            "second_pass_vs_first_median": statistics.median(
                x["pass_s"][1] / x["pass_s"][0] - 1 for x in within if len(x["pass_s"]) > 1),
            "passes": [x["passes"] for x in within]}
        rep["all_correct"] = all(r[0]["correct"] for runs in sets for r in runs)
        rep["runs"] = [[{"seed": s, "metrics": {k: v["value"] for k, v in r[0]["metrics"].items()},
                         "pass_s": r[1]["pass_s"], "steal_frac": r[2]["steal_frac"],
                         "loadavg_before": r[2]["loadavg_before"]}
                        for s, r in zip(range(lo, hi + 1), runs)] for runs in sets]
        report[w] = rep
        print(json.dumps({w: rep}, indent=1), flush=True)
    if a.out:
        os.makedirs(os.path.dirname(a.out), exist_ok=True)
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
