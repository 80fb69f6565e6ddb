#!/usr/bin/env python3
"""bfdb + operator-suite benchmark for graft.

    python3 perfbench/run.py --workload bfdb|suite_gates \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline) into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse that build while the sources are unchanged.
Inputs come from --seed (the suite_gates tables are fixed). Each run starts
one Spark driver JVM at local[<cores>] with a pinned 3 GiB heap, and one
client thread issuing a fixed sequence of operations in a closed loop; the
amount of work never depends on --seconds or on how fast it runs.

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 a listener and file-system statistics wrap every call and the
metrics are the per-layer ones. The line before it holds the full run
record (every sample, the named figures, the layer table), which is also
written to <build dir>/records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 175

WORKLOADS = ("bfdb", "suite_gates")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gb():
    """The pinned heap: 3 GiB, or less on a host with under 12 GiB of RAM.
    The metadata indexed here is small next to it; a larger heap only costs
    page faults (with the test command's SPARK_DRIVER_MEM of 7 GiB, a slow
    run spent half its CPU time in the kernel)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return min(3, max(1, int(line.split()[1]) // 4194304))
    except OSError:
        pass
    return 2


def sources():
    roots = [os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt",
                                     ".properties"))]
    return sorted(files)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("cannot find the Spark installation: set SPARK_HOME")
    return home


def build(build_dir):
    """Compile with sbt unless the recorded source hash still matches;
    return the runtime classpath."""
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "sources.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline",
               CARGO_TARGET_DIR=build_dir, SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                "-Dsbt.repository.config=" + repos] + opts
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cpu_ticks():
    """(steal, total) CPU ticks from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return v[7] if len(v) > 7 else 0, sum(v)


def generate(seed, out, workers):
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "gen_corpus.py"),
                    "--seed", str(seed), "--out", out,
                    "--workers", str(workers)],
                   check=True, stdout=subprocess.DEVNULL, timeout=120)
    return time.perf_counter() - t0


def run_jvm(cp, args, work, deadline):
    mem = heap_gb()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Xmx%dg" % mem, "-Xms%dg" % mem,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" +
            os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("the benchmark JVM ran past the deadline")
    if proc.returncode != 0:
        fail("the benchmark JVM exited with code %d" % proc.returncode)
    for line in out.splitlines():
        if line.startswith("PERFBENCH "):
            return json.loads(line[len("PERFBENCH "):])
    fail("the benchmark JVM printed no result")


def main(argv):
    ap = argparse.ArgumentParser(description="graft bfdb benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.time() + DEADLINE_S
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft",
                                      "betfair")):
        fail("run from a checkout of the repository: program sources missing")
    build_dir = os.path.abspath(os.environ.get(
        "CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(build_dir)
    # the first run of a checkout spends its time building; the deadline
    # for the measured part starts after the build
    deadline = max(deadline, time.time() + DEADLINE_S - 30)
    work = os.path.join(build_dir, "work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    n = cores()
    ticks0 = cpu_ticks()
    try:
        args = ["--workload", a.workload, "--work", work,
                "--trace", str(a.trace),
                "--cores", str(n)]
        gen_s = 0.0
        if a.workload == "bfdb":
            gen_s = generate(a.seed, work, min(4, n))
            args += ["--expect", os.path.join(work, "expect.json")]
        else:
            args += ["--data", os.path.join(HERE, "data", "sf0.1"),
                     "--pins", os.path.join(HERE, "suite_fingerprints.json")]
        rec = run_jvm(cp, args, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec["seed"] = a.seed
    rec["seconds"] = a.seconds
    rec["generate_s"] = gen_s
    rec["setup_s"] = gen_s + rec["session_s"] + rec["warmup_s"]
    rec["loadavg"] = os.getloadavg()
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to others: a share of the run's ticks
        rec["steal_share"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    if a.trace:
        metrics = {k: {"value": v, "unit": unit(k)}
                   for k, v in rec["layers"].items() if k.startswith("round.")}
    else:
        metrics = {"setup_s": {"value": rec["setup_s"], "unit": "s"},
                   "work_s": {"value": rec["work_s"], "unit": "s"}}
    rec_dir = os.path.join(build_dir, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, "%s-trace%d-seed%d.json" % (
            a.workload, a.trace, a.seed)), "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps({"record": rec}))
    print(json.dumps({"correct": rec["failed"] == 0,
                      "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": metrics}))


def unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("bytes") or name.endswith("bytes_read") or \
            name.endswith("bytes_written"):
        return "B"
    if name.endswith("_share"):
        return "fraction"
    return "count"


if __name__ == "__main__":
    main(sys.argv[1:])
