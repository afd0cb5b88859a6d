#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload run in one Spark JVM.

    python3 perfbench/run.py --workload sql_light --seed 1 --seconds 16 --trace 0

Run from the root of a graft checkout. The first run builds graft and
the harness (`perfbench/harness`, sbt, offline) into `.bench_build/`;
later runs rebuild only when a source file changed. Inputs, stores,
Spark scratch space and captures live in `.bench_work/`.

Workloads and metrics are declared in BENCHMARK.json at the checkout
root. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Every run also writes a self-describing capture to
`.bench_work/captures/`, which `perfbench/layerdiff.py` compares.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
HARNESS = os.path.join(BENCH, "harness")
EXPECTED = os.path.join(BENCH, "expected_sf0.1.json")
# Fixed (initial = maximum) so captures from different boxes compare like
# for like, and a full GC never shrinks the heap the next units run in.
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: graft's build and main sources, and
    the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def commit_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "unknown"


def build(sha):
    """Compiles graft and the harness unless the launch file matches the
    current sources. Returns (classpath, jvm options)."""
    launch = os.path.join(BUILD, "launch.txt")
    stamp = os.path.join(BUILD, "stamp")
    os.makedirs(BUILD, exist_ok=True)
    fresh = (os.path.exists(launch) and os.path.exists(stamp)
             and open(stamp).read() == sha)
    if not fresh:
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
                    "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts.append(f"-Dsbt.repository.config={repos}")
            env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           f"-Dbench.launch={launch}", "writeLaunch"],
                          HARNESS, out, BUILD_TIMEOUT_S, env)
        if rc != 0:
            die(f"build failed (exit {rc}); see {log}", 3)
        with open(stamp, "w") as f:
            f.write(sha)
    lines = open(launch).read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def run_proc(cmd, cwd, out, timeout, env=None):
    """Runs cmd in its own process group and waits for it; on timeout the
    whole group is killed and reaped."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def java(classpath, jvm_opts, args, log, timeout):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
           + jvm_opts + ["-cp", classpath, "graftbench.Main"] + args)
    with open(log, "w") as out:
        return run_proc(cmd, WORK, out, timeout)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"{ROOT} is not a graft checkout (no build.sbt / src/main/scala/graft)")
    if not os.path.isfile(spec_path):
        die(f"{spec_path} not found")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    sha = source_sha()
    classpath, jvm_opts = build(sha)

    for d in ("tmp", "captures", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    capture = os.path.join(WORK, "captures", tag + ".json")
    log = os.path.join(WORK, "logs", tag + ".log")
    master = f"local[{nproc()}]"
    rc = java(classpath, jvm_opts,
              ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--master", master, "--work", WORK, "--expected", EXPECTED,
               "--out", capture, "--commit", commit_sha(), "--source", sha],
              log, RUN_TIMEOUT_S)
    if rc != 0 or not os.path.exists(capture):
        die(f"benchmark JVM failed (exit {rc}); see {log}", 4)
    cap = json.load(open(capture))

    if a.workload == "dyn_rw":
        # a JVM that never wrote the store must read every acknowledged write
        rlog = os.path.join(WORK, "logs", tag + "-reopen.log")
        rc = java(classpath, jvm_opts, ["--mode", "reopen", "--work", WORK],
                  rlog, 60)
        text = open(rlog).read()
        reopen = json.loads(text[text.index("{"):]) if rc == 0 and "{" in text else None
        cap["attempted"] += 1
        if reopen is None or reopen["mismatch_count"] > 0:
            cap["failed"] += 1
            cap["correct"] = False
            cap["failures"].append(f"reopen: {reopen or 'failed, see ' + rlog}")
        cap["reopen"] = reopen
        with open(capture, "w") as f:
            json.dump(cap, f, indent=2, sort_keys=True)

    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = cap["per_layer"] if a.trace else cap["end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in source]
    if missing:
        die(f"capture lacks declared metrics {missing}; see {capture}", 5)
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
               for m in declared}

    st = cap["stamp"]
    print(f"# {st['workload']} seed={st['seed']} traced={st['traced']} "
          f"master={st['master']} nproc={st['nproc']} sf={st['sf']} "
          f"heap={st['heap_max_mb']}MB jvm={st['jvm']} commit={st['commit'][:12]} "
          f"source={st['source_sha'][:12]}")
    for m in spec["end_to_end"]:
        print(f"  {m['name']:<28} {cap['end_to_end'][m['name']]:>14.4f} {m['unit']}")
    print(f"  {'failed_frac':<28} {cap['failed'] / max(1, cap['attempted']):>14.4f} "
          f"({cap['failed']}/{cap['attempted']})")
    for k, v in sorted(cap["report"].items()):
        print(f"  {k:<28} {v:>14.4f}")
    if a.trace:
        for k, v in sorted(cap["per_layer"].items()):
            print(f"  {k:<40} {v:>16.4f}")
    for f in cap["failures"][:10]:
        print(f"  FAIL {f}")
    print(f"# capture {os.path.relpath(capture, ROOT)}")
    print(json.dumps({"correct": bool(cap["correct"]), "attempted": cap["attempted"],
                      "failed": cap["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
