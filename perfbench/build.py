"""Build file of the benchmark's JVM harness.

Compiles the program (``src/main/scala``) together with the harness
(``perfbench/harness``) with the Scala compiler that ships among the
Spark jars build.sbt compiles against, into
``.bench_build/<digest>/classes``. The digest covers
every source file, so a changed tree never runs a stale build.

    python3 perfbench/build.py      # prints the classes directory
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
    """The Spark jar directory: $SPARK_JARS, else the `unmanagedBase`
    the repository's build.sbt compiles against."""
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


def sources():
    found = []
    for base in ("src/main/scala", "perfbench/harness"):
        found += glob.glob(os.path.join(ROOT, base, "**", "*.scala"),
                           recursive=True)
    return sorted(found)


def classpath(classes):
    return f"{classes}:{spark_jars()}/*"


def build():
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src", "main")) for s in srcs):
        raise SystemExit("build: no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(ROOT, ".bench_build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "OK")):
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jars = f"{spark_jars()}/*"
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", jars, "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"build: scalac exited {r.returncode}")
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    open(os.path.join(out, "OK"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
