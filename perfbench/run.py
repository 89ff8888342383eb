#!/usr/bin/env python3
"""Benchmark command: builds the program from source if needed, runs one
workload in one JVM, and prints the driver's result JSON as the last line
of standard output.

    python3 perfbench/run.py --workload json_codecs --seed 1 --seconds 20 --trace 0

All scratch, warehouse and java.io.tmpdir data sits under one temp root
inside the build directory, removed when the run ends. Exits non-zero,
printing no result, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True  # the checkout stays as git would commit it
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("json_codecs", "vector_index")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# repo's build.sbt javaOptions).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def with_units(values, trace):
    """Attach BENCHMARK.json's units. Every declared metric is printed: an
    end-to-end one the driver did not report is an error, a per-layer one
    reads 0 on a workload that does not exercise that layer."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    names = {m["name"] for m in declared}
    extra = sorted(set(values) - names)
    missing = sorted(m["name"] for m in declared if m["name"] not in values)
    if extra or (missing and not trace):
        sys.exit(f"perfbench: metrics undeclared {extra} or missing {missing}")
    return {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
            for m in declared}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath = build.ensure_built()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")

    os.makedirs(build.build_dir(), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=build.build_dir())
    log_path = os.path.join(tmp, "jvm.log")
    # The inputs are UTF-8; pin the JVM's default charset to match whatever
    # the locale (the variant codec's round trip garbles non-ASCII text
    # under an ASCII default charset). ParallelGC collects in pauses only,
    # where G1's concurrent threads would compete with Spark's four task
    # threads for the four cores.
    cmd = (["java", "-XX:+UseParallelGC", "-Xmx4g", "-Dfile.encoding=UTF-8",
            f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classpath, "graft.perfbench.Main",
              a.workload, str(a.seed), str(a.seconds), str(a.trace), tmp])
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    cwd=tmp)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
        with open(log_path) as log:
            notes = [l for l in log if l.startswith("perfbench:")]
        sys.stderr.writelines(notes)
        lines = out.strip().splitlines()
        if proc.returncode != 0 or not lines:
            with open(log_path) as log:
                sys.stderr.write(log.read()[-6000:])
            sys.exit(f"perfbench: driver exited with {proc.returncode}")
        result = json.loads(lines[-1])
        result["metrics"] = with_units(result["metrics"], a.trace)
        print(json.dumps(result))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
