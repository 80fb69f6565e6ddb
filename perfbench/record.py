#!/usr/bin/env python3
"""Run the benchmark over several seeds and keep the runs as a record.

    python3 perfbench/record.py --workload bfdb --set set1 --seeds 1-10 \\
        [--trace 0|1]

Each run is `perfbench/run.py`; the record goes to
perfbench/records/c<cores>/<workload>/<set>.json and holds every run's full
record plus, per metric, the median, the quartiles and the spread (the
distance between the quartiles as a share of the median, as
statistics.quantiles(values, n=4) gives them). An existing record is never
overwritten: pick a new --set name.

The runs need the host to themselves. Before each run the one-minute load
average must be at most the number of cores; record.py waits up to
LOAD_WAIT_S for a run's own load to decay, and stops the whole set, writing
nothing, if it does not, or if the load average at the end of a run is
above twice the core count (one run alone ends below 7 on 4 cores). On a
virtual machine other guests do not show in the load average but in steal
time: the set also stops when the hypervisor took more than MAX_STEAL of a
run's CPU time (uncontended runs stay below 0.04). Re-run a stopped set
whole, never a part of it.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import run

LOAD_WAIT_S = 120
MAX_STEAL = 0.05


def quiet_host():
    """Wait until the one-minute load average is at most the core count;
    return it, or None if it stays above for LOAD_WAIT_S."""
    limit = run.cores()
    deadline = time.time() + LOAD_WAIT_S
    while True:
        load = os.getloadavg()[0]
        if load <= limit:
            return load
        if time.time() > deadline:
            return None
        time.sleep(5)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values):
    if len(values) < 2:
        return {"median": values[0], "q1": values[0], "q3": values[0],
                "spread": 0.0, "n": 1}
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "n": len(values)}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--set", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args(argv)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    out = os.path.join(run.HERE, "records", "c%d" % run.cores(), a.workload,
                       a.set + ".json")
    if os.path.exists(out):
        sys.exit("record %s exists; choose another --set" % out)
    runs = []
    for s in seeds(a.seeds):
        load = quiet_host()
        if load is None:
            sys.exit("seed %d: load average %.2f above %d cores; set stopped, "
                     "nothing written" % (s, os.getloadavg()[0], run.cores()))
        p = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(seconds),
                            "--trace", str(a.trace)],
                           cwd=run.ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            sys.exit("seed %d: run failed (exit %d)" % (s, p.returncode))
        rec = json.loads(lines[-2])["record"]
        rec["result"] = json.loads(lines[-1])
        rec["loadavg_before"] = load
        if rec["loadavg"][0] > 2 * run.cores():
            sys.exit("seed %d: load average %.2f at the end of the run; the "
                     "host was shared, set stopped, nothing written"
                     % (s, rec["loadavg"][0]))
        if rec.get("steal_share", 0.0) > MAX_STEAL:
            sys.exit("seed %d: the hypervisor took %.0f%% of the run's CPU "
                     "time; set stopped, nothing written"
                     % (s, 100 * rec["steal_share"]))
        runs.append(rec)
        print("seed %d: %s" % (s, json.dumps(rec["result"])), flush=True)
    metrics = {}
    for k in runs[0]["result"]["metrics"]:
        metrics[k] = summary([r["result"]["metrics"][k]["value"] for r in runs])
    named = {}
    for k, v in runs[0].get("named", {}).items():
        vals = [r["named"][k] for r in runs]
        if all(isinstance(x, (int, float)) and not isinstance(x, bool)
               for x in vals):
            named[k] = summary(vals)
    # a traced set reports its own end-to-end figures too, and the tracing
    # overhead against every untraced set of the same workload
    overhead = {}
    if a.trace:
        for k in ("work_s", "setup_s"):
            metrics[k] = summary([r[k] for r in runs])
        folder = os.path.dirname(out)
        for name in sorted(os.listdir(folder)) if os.path.isdir(folder) else []:
            with open(os.path.join(folder, name)) as f:
                other = json.load(f)
            if other.get("trace") == 0:
                overhead[name[:-len(".json")]] = {
                    k: {"traced_minus_untraced_s": metrics[k]["median"] -
                        other["metrics"][k]["median"],
                        "share": metrics[k]["median"] /
                        other["metrics"][k]["median"] - 1}
                    for k in ("work_s", "setup_s")}
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"workload": a.workload, "cores": run.cores(),
                   "heap_gb": run.heap_gb(), "trace": a.trace,
                   "seconds": seconds, "seeds": seeds(a.seeds),
                   "metrics": metrics, "named": named,
                   "tracing_overhead": overhead,
                   "correct": all(r["result"]["correct"] for r in runs),
                   "runs": runs}, f, indent=1)
    for k, v in metrics.items():
        print("%-32s median %.4g  spread %.3f" % (k, v["median"], v["spread"]))


if __name__ == "__main__":
    main(sys.argv[1:])
