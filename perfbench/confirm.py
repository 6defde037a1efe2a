#!/usr/bin/env python3
"""Confirms `expected.json` against the DuckDB oracles at sf0.1.

    python3 perfbench/confirm.py [query ...]

For every benchmark query (or the ones named), runs `graft.Verify` over the
benchmark's sf0.1 tables, compares each result with its DuckDB oracle
using `tools/check.py`, then fingerprints the same result files and checks
that they match `expected.json`. Needs duckdb and pandas; takes a few
minutes. The benchmark itself never runs this.
"""
import json
import os
import shutil
import subprocess
import sys

import run

DATA = os.path.join(run.HERE, "data", "sf0.1")


def main():
    with open(os.path.join(run.HERE, "workloads.json")) as f:
        workloads = json.load(f)
    with open(os.path.join(run.HERE, "expected.json")) as f:
        expected = json.load(f)
    names = sys.argv[1:] or sorted({q for w in workloads.values() for q in w["queries"]})
    build_dir = os.path.abspath(os.path.join(run.ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    classpath, _ = run.build(build_dir)
    cp = os.pathsep.join(classpath + [os.path.join(run.SPARK_JARS, "*")])
    out = os.path.join(build_dir, "confirm")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    java = ["java"] + [a for p in run.ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(out, "tmp"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(out, "warehouse"), "-cp", cp]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    subprocess.run(java + ["graft.Verify", DATA, os.path.join(out, "results")] + names,
                   check=True, env=env, cwd=out, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    oracle = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"), DATA,
                             os.path.join(out, "results")] + names, text=True, capture_output=True)
    print(oracle.stdout)
    p = subprocess.run(java + ["perfbench.FingerprintFiles", os.path.join(out, "results")] + names,
                       check=True, text=True, capture_output=True, cwd=out)
    prints = json.loads(p.stdout.strip().splitlines()[-1])
    bad = [n for n in names if list(prints.get(n, [])) != list(expected.get(n, []))]
    for n in bad:
        print(f"MISMATCH {n}: oracle-checked result {prints.get(n)} vs expected {expected.get(n)}")
    shutil.rmtree(out, ignore_errors=True)
    ok = oracle.returncode == 0 and not bad
    print(f"{len(names)} queries: oracle {'PASS' if oracle.returncode == 0 else 'FAIL'}, "
          f"fingerprints {'match' if not bad else 'DIFFER'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
