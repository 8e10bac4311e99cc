#!/usr/bin/env python3
"""Alternating parent/change pairs of the layer benchmark.

    python3 tools/bench_pairs.py --parent DIR --change DIR --workload W \
        [--pairs 10] [--seed 1] [--seconds 10] [--log FILE]

Runs `python3 perfbench/run.py --workload W --seed S --seconds T --trace 0`
once in each checkout per pair, one run at a time, alternating which side
goes first (pair 0: parent first). Each checkout builds into its own
`.bench_build/`, so give each side its own clean clone. Every run's result
line is appended to `--log` as one JSON line as soon as it ends.

Then, for each end-to-end metric of the change's BENCHMARK.json, it prints
the median on each side, the change's median against the parent's, the
parent's IQR as % of its median, and in how many pairs the change was
better (by the metric's `better` direction; a tie is no win). It also
prints each side's failed operations.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path


def percentile(values, q):
    """Linear-interpolation percentile, q in [0, 1] (as perfbench/run.py)."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"{checkout}: run.py exited {r.returncode}: {r.stderr.strip()[-400:]}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--log")
    args = ap.parse_args()

    spec = json.loads((Path(args.change) / "BENCHMARK.json").read_text())
    sides = {"parent": args.parent, "change": args.change}
    results = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run_once(sides[side], args.workload, args.seed, args.seconds)
            results[side].append(res)
            values = {n: m["value"] for n, m in res["metrics"].items()}
            print(f"pair {i} {side}: failed {res['failed']}/{res['attempted']} "
                  + " ".join(f"{n}={v:.4g}" for n, v in values.items()), flush=True)
            if args.log:
                with open(args.log, "a") as f:
                    f.write(json.dumps({"pair": i, "side": side, "workload": args.workload,
                                        "seed": args.seed, "result": res}) + "\n")

    print(f"\n{args.workload}, {args.pairs} pairs, seed {args.seed}, {args.seconds:g} s")
    print(f"{'metric':<16} {'parent':>11} {'change':>11} {'change/parent':>13} {'parent IQR':>11} {'wins':>6}")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name]["value"] for r in results["parent"]]
        c = [r["metrics"][name]["value"] for r in results["change"]]
        pm, cm = percentile(p, 0.5), percentile(c, 0.5)
        iqr = percentile(p, 0.75) - percentile(p, 0.25)
        wins = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
        print(f"{name:<16} {pm:>11.4g} {cm:>11.4g} {cm / pm if pm else float('nan'):>13.3f} "
              f"{100 * iqr / pm if pm else float('nan'):>10.1f}% {wins:>3}/{len(p)}")
    for side in ("parent", "change"):
        failed = sum(r["failed"] for r in results[side])
        attempted = sum(r["attempted"] for r in results[side])
        print(f"{side} failed operations: {failed} of {attempted}")


if __name__ == "__main__":
    main()
