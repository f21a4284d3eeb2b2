#!/usr/bin/env python3
"""The benchmark's own steadiness test.

    python3 perfbench/steady.py [--workloads mesh-group,ops-floor] [--runs 10]

Runs run.py --runs times per workload in each of two sets, each run with
another seed and BENCHMARK.json's run_seconds, and checks what a
regression gate relies on, for every end-to-end metric in BENCHMARK.json:

* spread: the interquartile range of a set's values, as a share of their
  median, stays within the metric's bound;
* drift: the second set's median is not worse than the first set's by more
  than the bound;
* every run is correct with no failed op.

Exits 1 when a check fails. Writes the values to .bench_build/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2


def run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()

    ok, report = True, {}
    for wl in args.workloads.split(","):
        sets = []
        for s in range(SETS):
            results = [run(wl, 1000 * s + i + 1, spec["run_seconds"]) for i in range(args.runs)]
            bad = [r for r in results if not r["correct"] or r["failed"]]
            if bad:
                ok = False
                print(f"FAIL {wl}: {len(bad)} runs with failed ops")
            sets.append({m["name"]: [r["metrics"][m["name"]]["value"] for r in results]
                         for m in spec["end_to_end"]})
        report[wl] = sets
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sign = 1 if m["better"] == "lower" else -1
            first = statistics.median(sets[0][name])
            for i, values in enumerate(s[name] for s in sets):
                sp = spread(values)
                drift = sign * (statistics.median(values) - first) / first
                verdict = "ok"
                if sp > bound:
                    verdict, ok = "FAIL spread", False
                if drift > bound:
                    verdict, ok = "FAIL drift", False
                print(f"{wl:13s} {name:12s} set {i}: median {statistics.median(values):10.4f} "
                      f"spread {sp:6.3f} drift {drift:+6.3f} bound {bound} {verdict}")
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "steady.json"), "w") as f:
        json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
