#!/usr/bin/env python3
"""Runs a workload on several seeds and reports each end-to-end metric's
median and run-to-run spread (inter-quartile distance over median) against
its bound in BENCHMARK.json. With --against, also checks that the median of
these runs is not worse than that of an earlier saved set by more than the
bound.

    python3 perfbench/spread.py --workload batch --seeds 1-10 --save a.json
    python3 perfbench/spread.py --workload batch --seeds 11-20 --against a.json
    python3 perfbench/spread.py --workload batch --seeds 1-5 --trace-overhead

Run from the repository root. --trace-overhead also makes a traced run per
seed and reports the traced / untraced ratio of each metric.
"""

import argparse
import json
import os
import subprocess
import sys

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"run failed (seed {seed}):\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        sys.exit(f"incorrect output (seed {seed}): {p.stdout}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--save", help="write the per-metric values to this JSON file")
    ap.add_argument("--against", help="earlier --save file to compare medians with")
    ap.add_argument("--trace-overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    values, traced = {}, {}
    for seed in seeds_of(args.seeds):
        got = run(args.workload, seed, spec["run_seconds"], 0)
        print(f"seed {seed}: " + " ".join(f"{k}={v:.6g}" for k, v in got.items()), flush=True)
        for k, v in got.items():
            values.setdefault(k, []).append(v)
        if args.trace_overhead:
            t = run(args.workload, seed, spec["run_seconds"], 1)
            for m in spec["end_to_end"]:
                traced.setdefault(m["name"], []).append(t[f"trace.{m['name']}"])

    ok = True
    for m in spec["end_to_end"]:
        vs = values[m["name"]]
        line = f"{m['name']:>14}: median {metrics.median(vs):.6g} {m['unit']}"
        if len(vs) >= 2:
            sp = metrics.spread(vs)
            within = sp <= m["bound"] or m["name"] == "setup_s"
            ok &= within
            line += f", spread {sp:.3f} (bound {m['bound']}{'' if within else ', EXCEEDED'})"
        if traced:
            line += f", traced/untraced {metrics.median(traced[m['name']]) / metrics.median(vs):.3f}"
        print(line)
    if args.against:
        with open(args.against) as fh:
            first = json.load(fh)
        worse = metrics.regressions(first, values, spec["end_to_end"])
        for name, w in worse:
            print(f"{name}: median worse by {w:.3f}, beyond its bound")
        ok &= not worse
    if args.save:
        with open(args.save, "w") as fh:
            json.dump(values, fh)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
