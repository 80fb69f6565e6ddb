#!/usr/bin/env python3
"""Cross-check the suite_gates fingerprints against the DuckDB oracles.

    python3 perfbench/oracle_check.py [--write-pins]

Runs the eight suite_gates queries once over perfbench/data/sf0.1, writes
each result to parquet, replays each query's SparkEntry.oracleSql in DuckDB
over the same tables and compares the two row for row (columns in name
order, rows sorted, exact values). When every query matches, the Spark-side
fingerprints (row count plus order-independent hash) are the values pinned
in suite_fingerprints.json; --write-pins writes them there.
"""
import json
import os
import shutil
import time
import sys

import duckdb

import run

DATA = os.path.join(run.HERE, "data", "sf0.1")
PINS = os.path.join(run.HERE, "suite_fingerprints.json")


def compare(con, name, sql, spark_dir):
    spark_df = con.sql("SELECT * FROM '%s/*.parquet'" % spark_dir).df()
    oracle_df = con.sql(sql).df()
    sc, oc = sorted(spark_df.columns), sorted(oracle_df.columns)
    if sc != oc:
        return "columns differ: spark=%s oracle=%s" % (sc, oc)
    s = spark_df[sc].sort_values(sc).reset_index(drop=True)
    o = oracle_df[oc].sort_values(oc).reset_index(drop=True)
    if len(s) != len(o):
        return "rows spark=%d oracle=%d" % (len(s), len(o))
    for c in sc:
        a, b = s[c].astype(object), o[c].astype(object)
        same = (a.isna() == b.isna()) & (a.isna() | (a == b))
        if not same.all():
            return "values differ in column %s" % c
    return None


def main(argv):
    build_dir = os.path.abspath(os.environ.get(
        "CARGO_TARGET_DIR", os.path.join(run.ROOT, ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    cp = run.build(build_dir)
    work = os.path.join(build_dir, "work", "suite_dump")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec = run.run_jvm(cp, ["--workload", "suite_dump", "--work", work,
                               "--data", DATA, "--cores", str(run.cores())],
                          work, time.time() + 1800)
        oracles = json.load(open(os.path.join(work, "oracle_sql.json")))
        con = duckdb.connect()
        for f in sorted(os.listdir(DATA)):
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s'"
                        % (f[:-len(".parquet")], DATA, f))
        bad = 0
        for q, pin in sorted(rec["pins"].items()):
            err = compare(con, q, oracles[q], os.path.join(work, q))
            if pin["rows"] != pin["dumped_rows"] or \
                    pin["hash"] != pin["dumped_hash"]:
                err = err or "fingerprint of the written result differs"
            print("%s %s rows=%d hash=%d%s" % ("FAIL" if err else "PASS", q,
                                               pin["rows"], pin["hash"],
                                               ": " + err if err else ""))
            bad += bool(err)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        return 1
    if "--write-pins" in argv:
        pins = {q: {"rows": p["rows"], "hash": p["hash"]}
                for q, p in sorted(rec["pins"].items())}
        with open(PINS, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
