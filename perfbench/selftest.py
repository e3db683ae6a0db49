"""Smoke self-test of the benchmark: a tiny-size run of every workload,
untraced and traced. It checks that

- every operation passes its output check (`correct`, no failures);
- the result line has exactly the four result keys, and every end-to-end
  (untraced) or per-layer (traced) metric of BENCHMARK.json is emitted
  with its unit;
- the metadata-only image operation decodes zero frames.

    python3 perfbench/selftest.py        # exits 0 when every check holds
"""
import json
import subprocess
import sys


def run(workload, trace):
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                          "--seed", "1", "--seconds", "0", "--trace", str(trace),
                          "--size", "tiny"],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return out.returncode, out.stdout.strip().splitlines()


def main():
    bench = json.load(open("BENCHMARK.json"))
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            rc, lines = run(w, trace)
            tag = f"{w} trace={trace}"
            if rc != 0 or not lines:
                problems.append(f"{tag}: exit {rc}")
                continue
            res = json.loads(lines[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res.get("correct") or res.get("failed") != 0 or res.get("attempted", 0) < 1:
                checks = next((x for x in lines if x.startswith("# checks ")), "")
                problems.append(f"{tag}: correct={res.get('correct')} failed={res.get('failed')} {checks}")
            got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
            if got != want[trace]:
                missing = sorted(set(want[trace]) - set(got))
                extra = sorted(set(got) - set(want[trace]))
                wrong = sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])
                problems.append(f"{tag}: missing {missing} extra {extra} wrong units {wrong}")
            if trace and w == "images":
                counts = next(json.loads(x.split(" pass ", 1)[1]) for x in lines
                              if x.startswith("# counts "))
                frames = counts["frames_decoded"]
                if frames.get("img_meta") != 0 or frames.get("img_stats", 0) <= 0:
                    problems.append(f"{tag}: frames decoded {frames}")
            print(f"{tag}: {'ok' if not any(p.startswith(tag) for p in problems) else 'FAIL'}",
                  flush=True)
    for p in problems:
        print("FAIL " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
