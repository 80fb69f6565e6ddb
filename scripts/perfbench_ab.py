#!/usr/bin/env python3
"""A/B the benchmark between two checkouts, in alternating pairs.

    python3 scripts/perfbench_ab.py PARENT CHANGE --workload suite_gates \\
        --seeds 11-20 [--metric work_s] [--build-root DIR] [--json OUT]

PARENT and CHANGE are checkouts of the repository (a clone of the parent
commit, and the working tree). For each seed the script runs
`perfbench/run.py --workload W --seed N --seconds S --trace 0` once in each
checkout, each side with its own CARGO_TARGET_DIR under --build-root, and
alternates which side runs first (the parent in pairs 1, 3, 5, ..., the
change in pairs 2, 4, ...), so a drift in the host's load falls on both
sides. The builds, run records and --json file go outside the checkouts'
perfbench/; only sbt's gitignored meta-build directories (perfbench/target,
perfbench/project/target) appear there, as with any run.py build.

For every end-to-end metric it prints each side's samples, median and
quartiles (`statistics.quantiles`, exclusive method), and how many pairs
the change won (lower is better). For the claimed metric (--metric) it then
states whether the gain rule holds: the change wins at least 9 of every 10
pairs, and the median gap is wider than the parent's interquartile spread.
A run that fails or reports failed operations stops the script.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            seeds += range(int(lo), int(hi) + 1)
        else:
            seeds.append(int(part))
    return seeds


def run(checkout, build_dir, workload, seed, seconds):
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        sys.exit("perfbench_ab: %s seed %d exited with code %d"
                 % (checkout, seed, proc.returncode))
    result = json.loads(lines[-1])
    if not result["correct"] or result["failed"]:
        sys.exit("perfbench_ab: %s seed %d: %s" % (checkout, seed, result))
    return {k: v["value"] for k, v in result["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def summary(name, parent, change):
    wins = sum(c < p for p, c in zip(parent, change))
    lines = []
    for side, xs in (("parent", parent), ("change", change)):
        q1, q3 = quartiles(xs)
        lines.append("  %-6s %s  median %.3f  quartiles %.3f-%.3f" % (
            side, " / ".join("%.2f" % x for x in xs),
            statistics.median(xs), q1, q3))
    gap = statistics.median(parent) - statistics.median(change)
    print("%s: change won %d/%d pairs, median gap %.3f (%+.1f%%)" % (
        name, wins, len(parent), gap,
        -100.0 * gap / statistics.median(parent)))
    print("\n".join(lines))
    return wins, gap


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds,
                    help="e.g. 11-20 or 3,5,8")
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--metric", default="work_s",
                    help="the claimed metric the gain rule is checked on")
    ap.add_argument("--build-root",
                    default=os.path.join(tempfile.gettempdir(),
                                         "perfbench_ab"))
    ap.add_argument("--json", help="write every sample to this file")
    a = ap.parse_args(argv)
    sides = {"parent": os.path.abspath(a.parent),
             "change": os.path.abspath(a.change)}
    samples = {"parent": [], "change": []}
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            m = run(sides[side], os.path.join(a.build_root, side),
                    a.workload, seed, a.seconds)
            samples[side].append(m)
            print("pair %d seed %d %s: %s" % (
                i + 1, seed, side,
                " ".join("%s=%.3f" % kv for kv in sorted(m.items()))),
                flush=True)
    print()
    metrics = sorted(samples["parent"][0])
    verdict = None
    for name in metrics:
        p = [m[name] for m in samples["parent"]]
        c = [m[name] for m in samples["change"]]
        wins, gap = summary(name, p, c)
        if name == a.metric:
            q1, q3 = quartiles(p)
            verdict = (10 * wins >= 9 * len(p), gap > q3 - q1, q3 - q1)
    if verdict:
        held = verdict[0] and verdict[1]
        print("\ngain rule on %s: wins >= 9/10: %s; median gap wider than "
              "the parent's quartile spread (%.3f): %s -> %s" % (
                  a.metric, verdict[0], verdict[2], verdict[1],
                  "HOLDS" if held else "does not hold"))
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "seeds": a.seeds,
                       "samples": samples}, f, indent=1)


if __name__ == "__main__":
    main(sys.argv[1:])
