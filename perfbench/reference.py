#!/usr/bin/env python3
"""Re-record the result checksums the sql_light workload checks against.

    python3 perfbench/reference.py

Run from the root of a graft checkout after a change that legitimately
changes a query result. For every sql_light key it:
  1. executes the key twice in each of two JVMs with different core
     counts (local[4] and local[2]) and requires all four checksums to
     agree, so a checksum that depends on task order is caught here
     rather than flagged as a failure later;
  2. dumps the key's result as parquet and runs the DuckDB oracle
     comparison of `tools/check.py` on it;
  3. writes perfbench/expected_sf0.1.json with the checksums of every
     key, but only if every key passed both steps. Otherwise it leaves
     the file as it was, names the failing keys and exits 1.
"""
import json
import os
import re
import subprocess
import sys

import run

OUT = os.path.join(run.WORK, "reference")


def checksums(classpath, jvm_opts, cores):
    out = os.path.join(OUT, f"local{cores}")
    os.makedirs(out, exist_ok=True)
    log = os.path.join(OUT, f"local{cores}.log")
    rc = run.java(classpath, jvm_opts,
                  ["--mode", "reference", "--master", f"local[{cores}]",
                   "--work", run.WORK, "--out", out], log, 1800)
    if rc != 0:
        run.die(f"reference JVM failed (exit {rc}); see {log}", 4)
    sums = json.load(open(os.path.join(out, "checksums.json")))
    return out, sums["sf_dir"], sums["keys"]


def main():
    classpath, jvm_opts = run.build(run.source_sha())
    os.makedirs(os.path.join(run.WORK, "tmp"), exist_ok=True)
    dump, sf_dir, a = checksums(classpath, jvm_opts, 4)
    _, _, b = checksums(classpath, jvm_opts, 2)
    unstable = sorted(k for k in a if len({json.dumps(c, sort_keys=True)
                                           for c in a[k] + b[k]}) != 1)
    check = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "check.py"), dump, sf_dir]
        + sorted(a), capture_output=True, text=True)
    print(check.stdout)
    passed = set(re.findall(r"^PASS (\S+)", check.stdout, re.M))
    bad = sorted(set(unstable) | (set(a) - passed))
    if unstable:
        print(f"checksum differs between executions: {unstable}")
    if bad:
        print(f"failed: {bad}; {os.path.relpath(run.EXPECTED, run.ROOT)} left unchanged")
        sys.exit(1)
    with open(run.EXPECTED, "w") as f:
        json.dump({"sf": "sf0.1", "oracle": "tools/check.py (DuckDB)",
                   "keys": {k: a[k][0] for k in sorted(a)}}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(a)} keys in {os.path.relpath(run.EXPECTED, run.ROOT)}")


if __name__ == "__main__":
    main()
