#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and then the benchmark driver
(`perfbench/src`) against the program's classes, with the Scala compiler
that ships in the Spark jar directory the repo's build.sbt names. The repo's own sbt
build is not involved. Outputs land in the build directory
(`$CARGO_TARGET_DIR` if set, else `.bench_build/`): the program's classes
keyed by a hash of its sources, the driver's by a hash of both, so an
unchanged checkout compiles once.

    python3 perfbench/build.py          # prints the run-time classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jars directory the repo's sbt build compiles against."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources(root):
    found = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not found:
        raise BuildError(f"no Scala sources under {os.path.relpath(root, ROOT)}")
    return found


def scalac(out, srcs, jars, extra_cp=None):
    if not os.path.isfile(os.path.join(jars, "scala-compiler-2.13.17.jar")):
        raise BuildError(f"scala-compiler-2.13.17.jar not found in {jars}")
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if extra_cp:
        cmd += ["-cp", extra_cp]
    done = subprocess.run(cmd + srcs, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])


def ensure_built():
    """Compile if the sources changed; return the run-time classpath."""
    program, bench = sources(PROGRAM_SRC), sources(BENCH_SRC)
    jars = spark_jars()
    h = hashlib.sha256()
    for f in program:
        digest(h, f)
    # a change to the driver alone recompiles only the driver
    main_out = os.path.join(build_dir(), "main-" + h.hexdigest()[:16])
    for f in bench:
        digest(h, f)
    bench_out = os.path.join(build_dir(), "bench-" + h.hexdigest()[:16])
    for out, srcs, cp in ((main_out, program, None), (bench_out, bench, main_out)):
        if not os.path.isfile(os.path.join(out, "OK")):
            shutil.rmtree(out, ignore_errors=True)
            scalac(os.path.join(out, "classes"), srcs, jars, extra_cp=cp and
                   os.path.join(cp, "classes"))
            open(os.path.join(out, "OK"), "w").close()
    return os.pathsep.join([os.path.join(bench_out, "classes"),
                            os.path.join(main_out, "classes"), os.path.join(jars, "*")])


def digest(h, path):
    h.update(os.path.relpath(path, ROOT).encode())
    with open(path, "rb") as fh:
        h.update(fh.read())


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        sys.exit(f"build: {e}")
