"""Build file of the benchmark: compiles the engine and the harness.

The engine (`src/main/scala`) and the harness (`perfbench/src`) are compiled
together with the Scala compiler that ships in the Spark distribution, into
`$CARGO_TARGET_DIR/classes` (default `.bench_build/classes`). A stamp of the
source hashes skips the build when nothing changed. Run as
`python3 perfbench/build.py` from the repository root; run.py calls it.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"
SOURCES = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """The Spark jar directory: $SPARK_JARS, else the one build.sbt's
    unmanagedBase names (the engine compiles against those jars)."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_JARS; build.sbt names no unmanagedBase")
    return m.group(1)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def classpath(extra=()):
    return ":".join(list(extra) + [os.path.join(spark_jars(), "*")])


def java_opts():
    """The --add-opens flags Spark needs on JDK 17 (as build.sbt sets them)."""
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in pkgs]


def sources():
    files = []
    for root in SOURCES:
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compiles when the sources changed; returns the classes directory."""
    srcs = sources()
    if not any(s.startswith("src/") for s in srcs):
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    h = hashlib.sha256(SCALA_VERSION.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = [os.path.join(spark_jars(), f"scala-{m}-{SCALA_VERSION}.jar")
            for m in ("compiler", "library", "reflect")]
    jars_cp = ":".join(sorted(glob.glob(os.path.join(spark_jars(), "*.jar"))))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", jars_cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return out


if __name__ == "__main__":
    print(build())
