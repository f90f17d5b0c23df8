"""Benchmark entry point.

Usage: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), runs one workload in
a fresh JVM against the engine's production session, and prints the
host context as one JSON line and then the result as the last line:
{"correct", "attempted", "failed", "metrics"}. Untraced runs report the
end-to-end metrics, traced runs the per-layer ones. Everything the run
writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("pipeline_daily", "registry_sf0.01")
HERE = os.path.dirname(os.path.abspath(__file__))
JVM_LIMIT_S = 170  # a run must end within 180 s


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    work = os.path.join(build.OUT, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "ephemeral", "local"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    log = os.path.join(build.OUT, f"last-{a.workload}.log")
    env = dict(os.environ,
               SPARK_GRAFT_EPHEMERAL_ROOT=os.path.join(work, "ephemeral"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = [build.java()] + build.ADD_OPENS + [
        "-Xmx3g", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work,
        "--data", os.path.join(HERE, "data", "sf0.01"),
        "--fingerprints", os.path.join(HERE, "registry_fingerprints.tsv"),
        "--spans", os.path.join(build.OUT, "spans", f"{a.workload}-seed{a.seed}.json"),
        "--out", out]

    # SIGTERM ends the run through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    child = None
    try:
        with open(log, "w") as lf:
            child = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
            try:
                child.wait(timeout=JVM_LIMIT_S)
            except subprocess.TimeoutExpired:
                print(f"run exceeded {JVM_LIMIT_S} s", file=sys.stderr)
                child.kill()
                child.wait()
        if child.returncode != 0 or not os.path.exists(out):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-6000:])
            sys.exit(f"benchmark JVM failed (exit {child.returncode}); log: {log}")
        with open(out) as f:
            res = json.load(f)
    finally:
        if child is not None and child.returncode is None:
            child.kill()
            child.wait()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"context": res["context"]}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
