#!/usr/bin/env python3
"""Interleaved A/B of one flowbench workload between two checkouts.

    python3 tools/ab.py --parent ../parent --change . --workload mobility \
        --pairs 10 --seeds 1,9001 [--seconds 30] [--trace 0] [--json out.json]

Runs `flowbench/run.py` in the parent checkout and in the change checkout
as N pairs, one after the other, alternating which side runs first so
drift on the host lands on both sides alike. Pair i uses seed
seeds[i % len(seeds)] on both sides.

For every metric it prints the parent's and the change's median and
quartiles, and in how many pairs the change was better. A metric whose
change median is worse than the parent's by more than its bound in the
change checkout's BENCHMARK.json (read, never written) is flagged
`WORSE`. A metric is flagged `GAIN` when the change won at least 90% of
the pairs and the medians differ by more than the parent's
interquartile range. `--json` also writes every sample.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "flowbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, stdin=subprocess.DEVNULL)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"ab: run failed in {checkout} (exit {proc.returncode}):\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    if not result.get("correct", False):
        sys.exit(f"ab: {checkout} seed {seed} reported correct=false")
    return {k: v["value"] for k, v in result["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--json")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    specs = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}

    samples = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = seeds[i % len(seeds)]
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            checkout = a.parent if side == "parent" else a.change
            samples[side].append(run_once(checkout, a.workload, seed, a.seconds, a.trace))
        print(f"ab: pair {i + 1}/{a.pairs} seed {seed} done ({order[0]} first)",
              file=sys.stderr, flush=True)

    names = [n for n in samples["parent"][0] if all(n in s for s in samples["change"])]
    print(f"{'metric':40} {'parent p50 [q1, q3]':>28} {'change p50 [q1, q3]':>28} "
          f"{'wins':>6}  flag")
    for n in names:
        p = [s[n] for s in samples["parent"]]
        c = [s[n] for s in samples["change"]]
        spec = specs.get(n, {})
        lower = spec.get("better", "lower") == "lower"
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        pq1, pm, pq3 = quartiles(p)
        cq1, cm, cq3 = quartiles(c)
        flag = ""
        bound = spec.get("bound")
        worse = (cm - pm) if lower else (pm - cm)
        if bound is not None and pm != 0 and worse / abs(pm) > bound:
            flag = f"WORSE (> {bound:.0%})"
        elif wins >= 0.9 * a.pairs and -worse > (pq3 - pq1):
            flag = "GAIN"
        ps = f"{pm:.4g} [{pq1:.4g}, {pq3:.4g}]"
        cs = f"{cm:.4g} [{cq1:.4g}, {cq3:.4g}]"
        print(f"{n:40} {ps:>28} {cs:>28} {wins:>3}/{a.pairs}  {flag}")
    if a.json:
        with open(a.json, "w") as fh:
            json.dump({"workload": a.workload, "seeds": seeds, "pairs": a.pairs,
                       "samples": samples}, fh, indent=1)


if __name__ == "__main__":
    main()
