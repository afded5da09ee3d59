"""Run-to-run agreement check for the benchmark.

    python3 perfbench/agree.py --runs 10 [--sets 2] [--workload W ...]

Runs every listed workload (all of BENCHMARK.json's by default) `--runs`
times with distinct seeds, untraced, and prints each end-to-end metric's
spread: the inter-quartile range of its values as a share of their median.
A spread must stay within the metric's bound. With
`--sets 2` it repeats the whole set with fresh seeds and also checks that
the second median is not worse than the first by more than the bound.
Writes the figures to .bench_build/results/agreement.json.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402


def one_run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=build.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if out.returncode != 0 or not result["correct"]:
        raise RuntimeError("%s seed %d failed: %s" % (workload, seed, result))
    return {k: v["value"] for k, v in result["metrics"].items()}


def main():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=[1, 2], default=1)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    ok, report = True, {}
    for w in workloads:
        sets = []
        for s in range(a.sets):
            runs = [one_run(w, a.seed0 + 100 * s + i, spec["run_seconds"])
                    for i in range(a.runs)]
            sets.append({m["name"]: [r[m["name"]] for r in runs]
                         for m in spec["end_to_end"]})
        report[w] = sets
        for m in spec["end_to_end"]:
            vals = [st[m["name"]] for st in sets]
            spreads = [stats.spread(v) for v in vals]
            line = "%-14s %-14s median %-12.5g spread %s (bound %.2f)" % (
                w, m["name"], statistics.median(vals[0]),
                "/".join("%.3f" % x for x in spreads), m["bound"])
            bad = any(x > m["bound"] for x in spreads)
            if a.sets == 2:
                agree = stats.agreement(sets[0], sets[1], [m])[m["name"]]
                bad = bad or not agree[0]
                line += " | " + agree[1]
            ok = ok and not bad
            print(line + ("  FAIL" if bad else ""), flush=True)
    os.makedirs(os.path.join(build.BUILD, "results"), exist_ok=True)
    with open(os.path.join(build.BUILD, "results", "agreement.json"), "w") as f:
        json.dump(report, f)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
