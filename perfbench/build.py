"""Build file of the benchmark's harness package.

Compiles the program (``src/main/scala``) and the harness
(``perfbench/harness/src``) with the Scala compiler that ships among the
program's jars — the directory build.sbt names as ``unmanagedBase`` — so a
run needs neither sbt nor a dependency resolver. Outputs go to
``.bench_build/build-<hash>/`` in the checkout, keyed by a hash of every
source file, and are reused while the sources are unchanged.

    python3 perfbench/build.py      # build (or reuse) and print the classpath
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

AREA = ".bench_build"
HERE = os.path.dirname(os.path.abspath(__file__))

# Spark on JDK 17 outside spark-submit needs these (build.sbt passes the
# same list to forked runs).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def _die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jar_dir(root):
    """The program's jar directory, as build.sbt declares it."""
    path = os.path.join(root, "build.sbt")
    if not os.path.exists(path):
        _die("build.sbt not found: run from the root of a graft checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(path).read())
    if not m or not os.path.isdir(m.group(1)):
        _die("build.sbt declares no existing unmanagedBase jar directory")
    return m.group(1)


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _scalac(jars, classpath, out, files):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + files, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        _die(f"compiling {len(files)} files into {out} failed")


def ensure(root):
    """Build the program and the harness if needed; return the runtime
    classpath."""
    jars = jar_dir(root)
    prog = _sources(os.path.join(root, "src", "main", "scala"))
    if not prog:
        _die("src/main/scala holds no sources")
    harness = _sources(os.path.join(HERE, "harness", "src"))
    h = hashlib.sha256()
    for f in prog + harness:
        h.update(os.path.relpath(f, root).encode())
        h.update(open(f, "rb").read())
    out = os.path.join(root, AREA, f"build-{h.hexdigest()[:16]}")
    classes, hclasses = os.path.join(out, "classes"), os.path.join(out, "harness")
    os.makedirs(os.path.join(root, AREA), exist_ok=True)
    with open(os.path.join(root, AREA, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, "ok")):
            shutil.rmtree(out, ignore_errors=True)
            _scalac(jars, None, classes, prog)
            _scalac(jars, classes, hclasses, harness)
            open(os.path.join(out, "ok"), "w").close()
    return os.pathsep.join([hclasses, classes, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(ensure(os.getcwd()))
