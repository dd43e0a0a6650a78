#!/usr/bin/env python3
"""End-to-end pipeline benchmark for graft.

usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --self-test

Builds the library and the harness from source (perfbench/build.py),
then runs one workload in one driver JVM on local[nproc]. The JVM
prints a human-readable report and, as its last stdout line, one JSON
object {"correct", "attempted", "failed", "metrics"}; this wrapper
relays it and exits with the JVM's exit code. `--self-test` runs the
harness's own tests (sink guard, output checks) on small inputs.

Everything a run writes (jar, class-data archive, Spark scratch, the
trace file) stays under .bench_build/ in the repository root.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", help="prep_bulk, ts_features, curation, ts_curation or prep_serve")
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1))
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    if not a.self_test and None in (a.workload, a.seed, a.seconds, a.trace):
        p.error("--workload, --seed, --seconds and --trace are required")

    try:
        jars = build.build()
    except (build.BuildError, subprocess.TimeoutExpired, OSError) as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2

    args = ["--self-test"] if a.self_test else [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)]
    proc = subprocess.Popen(build.java_command(jars, args, build.cds_option()),
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            env=build.java_env(), cwd=build.ROOT)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("perfbench: run exceeded %d s, killed" % RUN_TIMEOUT_S, file=sys.stderr)
        return 3
    if proc.returncode != 0:
        sys.stderr.write(out)
        return proc.returncode
    if a.self_test:
        sys.stdout.write(out)
        return 0
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stderr.write(out)
        print("perfbench: the JVM printed no result line", file=sys.stderr)
        return 4
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
