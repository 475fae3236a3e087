#!/usr/bin/env python3
"""Build file of the lifecycle benchmark.

Compiles graft's main sources (src/main/scala) together with the benchmark
harness (perfbench/src) into one class directory with the Scala compiler
that ships with Spark, so no build tool or network is needed. The output is
stamped with a hash of every input source and rebuilt only when one changes.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """The Spark jar directory: $SPARK_JARS, else the one the sbt build uses
    (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: no Spark jar directory (set SPARK_JARS)")
    return m.group(1)


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, base) if not os.path.isabs(base) else base


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    return main, bench


def classpath(classes, jars):
    return os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"),
                            os.path.join(jars, "*")])


def build():
    main, bench = sources()
    if not main:
        raise SystemExit("build: no graft sources under src/main/scala")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jars not found at {jars}")
    digest = hashlib.sha256()
    for path in main + bench:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp_value = digest.hexdigest()
    base = out_dir()
    classes = os.path.join(base, "classes")
    stamp = os.path.join(base, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == stamp_value:
        return classpath(classes, jars)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(main + bench) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", os.path.join(jars, "*"), "@" + argfile]
    log = os.path.join(base, "build.log")
    with open(log, "wb") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT)
        try:
            proc.wait()
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(open(log, errors="replace").read()[-20000:])
        raise SystemExit("build: compilation failed")
    with open(stamp, "w") as f:
        f.write(stamp_value)
    return classpath(classes, jars)


if __name__ == "__main__":
    print(build())
