"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the benchmark's own
Scala sources (`perfbench/scala`) into `<build_dir>/classes` with the Scala
compiler that ships among the Spark jars. A digest of every source file and
of the jar list is kept next to the classes, so an unchanged tree is not
compiled twice. `run.py` calls `build()` before every run.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root: str = ".") -> str:
    """$SPARK_HOME/jars, else the jar directory the sbt build names
    (`unmanagedBase` in build.sbt), so both builds use the same Spark."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no Spark jar directory)")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def sources(root: str) -> list:
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")):
        if not os.path.isdir(base):
            raise SystemExit(f"perfbench: missing source directory {base}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(srcs: list, jars: str) -> str:
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build(root: str, build_dir: str) -> tuple:
    """Return (classes dir, source digest); compile only when sources changed."""
    jars = spark_jars(root)
    srcs = sources(root)
    stamp = digest(srcs, jars)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.digest")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp

