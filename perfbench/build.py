#!/usr/bin/env python3
"""Build the benchmark: compile the engine's sources (src/main/scala)
together with the benchmark's own (perfbench/src/main/scala) into
perfbench/target/classes.

    python3 perfbench/build.py

The compiler is the Scala compiler that ships in Spark's jars
($SPARK_HOME/jars, else those of the Spark install whose spark-submit
is on PATH), the jars a run puts on its classpath anyway. A build needs
nothing a run does not: no sbt, no dependency cache, no network. It is
skipped while no source changed since the last one. perfbench/run.py
calls it before every run.
"""

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src", "main", "scala")]
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "build.json")
TIMEOUT_S = 600


class BuildError(Exception):
    pass


def find_program(name):
    """`name` on PATH, else on the PATH a login shell sets up."""
    found = shutil.which(name)
    if found or shutil.which("bash") is None:
        return found
    try:
        out = subprocess.run(["bash", "-lc", f"command -v {name}"],
                             stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=60).stdout
    except subprocess.TimeoutExpired:
        return None
    lines = out.strip().splitlines()
    path = lines[-1] if lines else ""
    return path if os.path.isabs(path) and os.access(path, os.X_OK) else None


def java():
    """The java launcher: $JAVA_HOME's, else the one on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "java"), os.X_OK):
        return os.path.join(home, "bin", "java")
    path = find_program("java")
    if path is None:
        raise BuildError("java not found: set JAVA_HOME or put java on PATH")
    return path


def spark_jars():
    """Spark's jars directory."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = find_program("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = home and os.path.join(home, "jars")
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    files = []
    for base in SOURCE_DIRS:
        if not os.path.isdir(base):
            raise BuildError(f"sources not found at {os.path.relpath(base, ROOT)}; "
                             "run from the root of a full checkout")
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files, jars):
    """Hash of every input of the build, so an unchanged tree skips it."""
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return the run's classpath."""
    files, jars = sources(), spark_jars()
    classpath = os.pathsep.join([CLASSES, os.path.join(jars, "*")])
    key = digest(files, jars)
    try:
        with open(STAMP) as fh:
            if json.load(fh)["digest"] == key and os.path.isdir(CLASSES):
                return classpath
    except (OSError, ValueError, KeyError):
        pass

    compiler = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jars, f"{name}-2.*.jar")))
        if not found:
            raise BuildError(f"{name} jar not found in {jars}")
        compiler.append(found[-1])
    out = os.path.join(TARGET, "classes.new")
    tmp = os.path.join(TARGET, "tmp")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(tmp, exist_ok=True)
    args = os.path.join(TARGET, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files) + "\n")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", os.path.join(jars, "*"), f"@{args}"]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"build exceeded {TIMEOUT_S} s")
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise BuildError(f"compile failed (exit {proc.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(out, CLASSES)
    with open(STAMP, "w") as fh:
        json.dump({"digest": key}, fh)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
