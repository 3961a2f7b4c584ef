"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's JVM harness (perfbench/scala) with the Scala compiler that ships
in the Spark distribution, into <build dir>/classes.

Run from the root of a checkout:  python3 perfbench/build.py
The build is skipped when the sources are unchanged since the last one.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = "/opt/spark/jars"
# The module options spark-submit would add on JDK 17 (build.sbt's list).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources():
    out = []
    for root in ("src/main/scala", "perfbench/scala"):
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath():
    return os.pathsep.join([os.path.join(build_dir(), "classes"), "src/main/resources",
                            os.path.join(SPARK_JARS, "*")])


def build():
    """Compile if needed; return the runtime classpath. Raises on failure."""
    srcs = sources()
    if not any(s.startswith("src/") for s in srcs):
        raise RuntimeError("no program sources under src/main/scala; run from a checkout root")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(build_dir(), "classes.stamp")
    classes = os.path.join(build_dir(), "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath()
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    # an explicit -classpath keeps the working directory off it (scalac
    # would otherwise read perfbench/scala as a package named perfbench.scala)
    jars = os.pathsep.join(sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-classpath", jars, "-nowarn", "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError("scalac failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    build()
    print(classpath())
