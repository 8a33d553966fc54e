#!/usr/bin/env python3
"""Benchmark of the Spark RedDuck engine: three closed-loop workloads, one
client each, over a Redis stand-in and the vendored test tables.

Run one workload (from the repository root):
    python3 perfbench/run.py --workload redis_scan_kv --seed 1 --seconds 15 --trace 0
Run every workload and print each metric with its unit:
    python3 perfbench/run.py --all [--trace 1]
Record the olap_pipeline results and cross-check them with DuckDB:
    python3 perfbench/run.py --record

The first run builds the program and the benchmark from source with sbt
(offline); later runs reuse the build until a source file changes. The
last line of standard output is the result as one JSON object.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(TARGET, "work")
DATA = os.path.join(BENCH, "data")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
HEAP = ["-Xms3g", "-Xmx3g"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    for top in ("src/main", "project", "build.sbt", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project"):
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(base)
            for f in fs if "target" not in os.path.relpath(d, ROOT).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or shutil.which("sbt") is None:
        log("the program's build.sbt or sbt is missing; cannot build")
        sys.exit(2)
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building the program and the benchmark with sbt")
    with open(os.path.join(TARGET, "build.log"), "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                                 "launch"], cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(LAUNCH):
        with open(os.path.join(TARGET, "build.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        log(f"build failed (exit {rc}); log in {os.path.join(TARGET, 'build.log')}")
        sys.exit(2)
    with open(STAMP, "w") as f:
        f.write(stamp)


def jvm_command(args):
    with open(LAUNCH) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    opts = [o for o in lines if not o.startswith("-Xmx")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opts[:-2] + HEAP + [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"] + opts[-2:] +
            ["perfbench.Main", "--data", DATA, "--work", WORK] + args)


def run_jvm(args):
    """Runs the benchmark JVM; returns its stdout lines."""
    cmd = jvm_command(args)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        sys.exit(3)
    if proc.returncode != 0:
        log(f"benchmark JVM exited {proc.returncode}")
        sys.exit(3)
    return [l for l in out.splitlines() if l.strip()]


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(workload, seed, seconds, trace):
    """One run; returns (env line, result dict), the result checked
    against the metrics BENCHMARK.json declares.
    """
    lines = run_jvm(["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                     "--trace", str(trace)])
    env, result = json.loads(lines[-2]), json.loads(lines[-1])
    want = {m["name"]: m["unit"] for m in declared()["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        log(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
            f"extra {sorted(set(got) - set(want))}, units {[k for k in want if k in got and got[k] != want[k]]}")
        sys.exit(4)
    return env, result


def run_all(trace, seconds, seed):
    for w in declared()["workloads"]:
        env, res = run_one(w["name"], seed, seconds, trace)
        base = f"{env['ops']} ops"
        print(f"== {w['name']} (seed {seed}, {seconds} s, trace {trace}, {base}, steal_frac "
              f"{env['env']['steal_frac']:.4f}{' FLAGGED' if env['env']['steal_flagged'] else ''})")
        for k, v in res["metrics"].items():
            per = f"  [per op, over {base}]" if "_per_op" in k else ""
            print(f"  {k:52s} {v['value']:>16.6g} {v['unit']}{per}")
        print(f"  {'error_rate':52s} {res['failed'] / res['attempted']:>16.6g} ratio"
              f"  [{res['failed']} of {res['attempted']} operations]")


def record():
    """Records olap_pipeline's row counts and hashes, then checks the
    same results against the DuckDB oracle SQL wherever one exists.
    """
    out = os.path.join(WORK, "record")
    shutil.rmtree(out, ignore_errors=True)
    run_jvm(["--workload", "olap_pipeline", "--seed", "0", "--seconds", "0", "--trace", "0", "--record", out])
    check = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "selfcheck.py"),
                            os.path.join(DATA, "sf0.01"), out])
    shutil.copy(os.path.join(out, "olap_expected.tsv"), os.path.join(DATA, "olap_expected.tsv"))
    log(f"recorded {os.path.join(DATA, 'olap_expected.tsv')}; DuckDB cross-check exit {check.returncode}")
    sys.exit(check.returncode)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload and print every metric")
    ap.add_argument("--record", action="store_true", help="record olap_pipeline results, cross-check with DuckDB")
    a = ap.parse_args()
    build()
    if a.record:
        record()
    seconds = a.seconds if a.seconds is not None else declared()["run_seconds"]
    if a.all:
        run_all(a.trace, seconds, a.seed)
        return
    if not a.workload:
        ap.error("--workload, --all or --record is required")
    env, res = run_one(a.workload, a.seed, seconds, a.trace)
    print(json.dumps(env))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
