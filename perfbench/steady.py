#!/usr/bin/env python3
"""Steadiness report: is the benchmark steady enough to gate on?

    python3 perfbench/steady.py [--workloads pipeline,tables] [--runs 10]
                                [--first-seed 1] [--held-out-seed 7919]
    python3 perfbench/steady.py --smoke-only

For each workload it runs the benchmark `--runs` times, each with another
seed, and prints per end-to-end metric the median, the quartiles
(statistics.quantiles(values, n=4)) and the spread (Q3 - Q1) / median
against the metric's bound from BENCHMARK.json. Then it runs one
held-out seed, which must pass every check with no failed operation,
and the smoke size of every workload (the same code path on tiny inputs,
about a minute each), which fails on any check. Exit status 1 if any
check failed, a run broke, or a gated spread exceeded its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def bench():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def run(workload, seed, seconds, smoke=False):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"] + (["--smoke"] if smoke else [])
    p = subprocess.run(cmd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        return None
    for line in lines:
        if line.startswith("# CHECK FAILED"):
            print("   " + line)
    return json.loads(lines[-1])


def ok(result):
    return result is not None and result["correct"] and result["failed"] == 0


def main():
    b = bench()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in b["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--held-out-seed", type=int, default=7919)
    ap.add_argument("--smoke-only", action="store_true")
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    bad = False

    if not a.smoke_only:
        for w in workloads:
            print(f"== {w}: {a.runs} runs of {b['run_seconds']} s, seeds "
                  f"{a.first_seed}..{a.first_seed + a.runs - 1}")
            results = [run(w, a.first_seed + i, b["run_seconds"]) for i in range(a.runs)]
            bad |= not all(ok(r) for r in results)
            done = [r for r in results if r is not None]
            if len(done) < 2:
                print("   too few completed runs")
                bad = True
                continue
            for m in b["end_to_end"]:
                vals = [r["metrics"][m["name"]]["value"] for r in done]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
                gated = m["name"] != "setup_s"
                verdict = ("steady" if spread < m["bound"] / 3 else
                           "within bound" if spread <= m["bound"] else "TOO WIDE")
                bad |= gated and spread > m["bound"]
                print(f"   {m['name']:<12} median {med:.4g} {m['unit']}  Q1 {q1:.4g}  Q3 {q3:.4g}  "
                      f"spread {spread:.3f} (bound {m['bound']}) "
                      f"{verdict if gated else '(spread not gated)'}")
                print(f"   {'':<12} values {[float(f'{v:.4g}') for v in vals]}")
            print(f"   checks: {sum(ok(r) for r in results)}/{a.runs} runs correct with 0 failed ops")
            r = run(w, a.held_out_seed, b["run_seconds"])
            print(f"   held-out seed {a.held_out_seed}: {'ok' if ok(r) else 'FAILED'}")
            bad |= not ok(r)

    for w in workloads:
        r = run(w, a.held_out_seed, 2, smoke=True)
        print(f"== smoke {w}: {'ok' if ok(r) else 'FAILED'}")
        bad |= not ok(r)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
