"""Benchmark of the graft engine: one command per workload run.

    python3 perfbench/run.py --workload tables|images \
        --seed N --seconds S --trace 0|1 [--size full|tiny]

Run from the repository root. It builds the engine and the harness from
source (perfbench/build.py), generates the workload's inputs from the
seed, runs one JVM (`local[n]`, n = nproc, fixed heap) and checks every
operation's output. The last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Lines before
it, prefixed `#`, carry the environment fingerprint, the check results,
the steadiness figures and the exact per-operation counts.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402

# Table scale per workload: small enough that a pass is seconds, large
# enough that every operator does real work (sf 1 = 6M lineitem rows).
SCALE = {"tables": 0.01, "images": 0.0}
TINY_SCALE = 0.002
TIMEOUT_S = 170
TAIL_LEVEL = 0.9

END_TO_END = [("pass_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"), ("setup_s", "s"),
              ("heap_after_gc_peak_mb", "MB"), ("ok_frac", "ratio")]


def quartile_spread(xs):
    """(Q3 - Q1) / median, as statistics.quantiles(n=4) gives them."""
    if len(xs) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def trend(xs):
    """Least-squares slope of xs over their index, as a share of the mean
    per pass; and the second half's median over the first half's, minus 1."""
    n = len(xs)
    if n < 2:
        return 0.0, 0.0
    mx, my = (n - 1) / 2, statistics.fmean(xs)
    slope = sum((i - mx) * (x - my) for i, x in enumerate(xs)) / sum((i - mx) ** 2 for i in range(n))
    halves = statistics.median(xs[n - n // 2:]) / statistics.median(xs[:n // 2]) - 1
    return slope / my, halves


def percentile(xs, level):
    """Nearest-rank percentile and the number of samples beyond it."""
    s = sorted(xs)
    k = max(1, math.ceil(level * len(s)))
    return s[k - 1], len(s) - k


def cpu_times():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def run_jvm(a, build_dir, data_dir, work, report):
    java = build.java_command(build_dir, work, f"-XX:SharedArchiveFile={build.archive(build_dir)}")
    java += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--data", data_dir, "--work", work,
             "--size", a.size, "--out", report]
    proc = subprocess.Popen(java, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: the JVM did not finish in time")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(SCALE))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0, choices=[0, 1])
    p.add_argument("--size", default="full", choices=["full", "tiny"])
    a = p.parse_args()

    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    build.build(build_dir)

    sf = TINY_SCALE if a.size == "tiny" else SCALE[a.workload]
    data_dir = ""
    if sf > 0:
        data_dir = os.path.join(build_dir, "data", f"sf{sf}-seed{a.seed}")
        gen_data.write(data_dir, a.seed, sf)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{a.size}"
    work = os.path.join(build_dir, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    report_path = os.path.join(work, "report.json")
    steal0, total0 = cpu_times()
    rc = run_jvm(a, build_dir, data_dir, work, report_path)
    steal1, total1 = cpu_times()
    if rc != 0 or not os.path.exists(report_path):
        raise SystemExit(f"perfbench: the JVM failed ({rc})")
    with open(report_path) as fh:
        rep = json.load(fh)

    # ---- output checks: JVM-side for images, DuckDB oracle for tables ----
    checks = dict(rep["check"])
    oracle_ops = {k: v for k, v in checks.items() if v == "oracle"}
    if oracle_ops:
        import oracle
        with open(os.path.join(work, "oracle_sql.json")) as fh:
            sql = json.load(fh)
        res = oracle.check(data_dir, os.path.join(work, "dumps"),
                           {k: sql[k] for k in oracle_ops})
        for k, why in res.items():
            checks[k] = "ok" if why is None else f"mismatch: {why}"
    bad_ops = {k for k, v in checks.items() if v != "ok"}

    samples = [dict(zip(["pass", "op", "s", "construct_s", "status", "traced"], x))
               for x in rep["samples"]]
    for s in samples:
        if s["status"] == "ok" and s["op"] in bad_ops:
            s["status"] = "mismatch"
    attempted = len(samples)
    failed = sum(s["status"] != "ok" for s in samples)
    correct = not bad_ops and failed == 0

    env = dict(rep["env"])
    env["heap"] = build.HEAP
    # CPU time the hypervisor gave to other guests while the JVM ran
    env["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    print("# env " + json.dumps(env, sort_keys=True))
    print("# checks " + json.dumps(checks, sort_keys=True))
    if rep["counts"]:
        exact = {op: all(c == cs[0] for c in cs) for op, cs in rep["counts"].items()}
        print("# counts [jobs, stages, tasks, eager_jobs, query_executions] per traced pass "
              + json.dumps({"exact": exact, "per_pass": rep["counts"],
                            "frames_decoded": rep["frames_decoded"]}, sort_keys=True))

    if a.trace:
        metrics = {k: {"value": rep["layers"][k], "unit": u}
                   for k, u in rep["layer_units"].items()}
        print(f"# spans {os.path.relpath(os.path.join(work, 'spans.jsonl'), root)}")
    else:
        untraced = [s for s in samples if not s["traced"]]
        ok = [s for s in untraced if s["status"] == "ok"]
        passes = {}
        for s in ok:
            passes.setdefault(s["pass"], 0.0)
            passes[s["pass"]] += s["s"]
        pass_times = [passes[k] for k in sorted(passes)]
        op_times = [s["s"] for s in ok]
        tail, beyond = percentile(op_times, TAIL_LEVEL) if op_times else (0.0, 0)
        values = {
            "pass_s": statistics.median(pass_times) if pass_times else 0.0,
            "op_p50_s": statistics.median(op_times) if op_times else 0.0,
            "op_tail_s": tail,
            "setup_s": statistics.median(rep["setup_s"]),
            "heap_after_gc_peak_mb": max(rep["heap_after_gc_mb"]),
            "ok_frac": 1.0 - failed / attempted,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
        slope, halves = trend(pass_times)
        print("# steadiness " + json.dumps({
            "passes": len(pass_times), "pass_s": pass_times,
            "pass_spread": quartile_spread(pass_times),
            "pass_slope_per_pass": slope, "second_half_vs_first": halves,
            "setup_s": rep["setup_s"], "op_tail": {"percentile": TAIL_LEVEL * 100,
                                                   "samples": len(op_times), "beyond": beyond},
            "failed_frac": failed / attempted}))
        per_op = {}
        for s in ok:
            per_op.setdefault(s["op"], []).append(s["s"])
        print("# ops median_s " + json.dumps({k: statistics.median(v) for k, v in per_op.items()}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
    # exit without interpreter teardown, so the exit handlers of the native
    # DuckDB and Arrow libraries cannot turn a finished run into a SIGABRT
    sys.stdout.flush()
    os._exit(0)
