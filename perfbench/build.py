"""Build file of the benchmark: compiles graft (src/main/scala) together
with the benchmark program (perfbench/scala) with the Scala compiler that
ships with Spark, into `.bench_build/<source hash>/bench.jar`, then
records a class-data-sharing archive from one short training run of
every workload, so each measured JVM loads Spark's classes from the
archive instead of verifying them again. A build whose sources are
unchanged is reused.

Run from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as fh:
        return re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read()).group(1)


SPARK_JARS = _spark_jars()
SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]
# a fixed-size heap: a growing one expands on G1's timing-dependent
# decisions, which made peak RSS spread by 0.15 over ten seeds (0.01 fixed)
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def build_root():
    return os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources(root="."):
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath(jar):
    # explicit jars, not a wildcard: class-data sharing needs the list
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    return os.pathsep.join([jar] + jars)


def java(jar, *args, archive=None, record=False):
    cds = [f"-XX:{'ArchiveClassesAtExit' if record else 'SharedArchiveFile'}={archive}"] if archive else []
    return ["java", *cds, *JAVA_OPENS, "-cp", classpath(jar), *args]


def build(root="."):
    """Compile if needed; returns the build directory (bench.jar, cds.jsa,
    registry_names.json)."""
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        raise SystemExit("build: src/main/scala/graft not found; run from the repository root")
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under {SPARK_JARS}")
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.abspath(os.path.join(root, build_root(), h.hexdigest()[:16]))
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, "bench.jar")
    if os.path.exists(os.path.join(out, "done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(out, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", f"{SPARK_JARS}/*", "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    subprocess.run(["jar", "cf", jar, "-C", classes, "."], check=True)
    shutil.rmtree(classes)
    names = subprocess.run(java(jar, "perfbench.Names"),
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
    if names.returncode != 0:
        sys.stderr.write(names.stderr[-4000:])
        raise SystemExit("build: listing the registry failed")
    with open(os.path.join(out, "registry_names.json"), "w") as fh:
        fh.write(names.stdout)
    train(out, jar, json.loads(names.stdout))
    open(os.path.join(out, "done"), "w").close()
    return out


def train(out, jar, names):
    """One short run of every workload on tiny inputs, recording the
    classes it loads into the archive."""
    import gen
    d = os.path.join(out, "train")
    shutil.rmtree(d, ignore_errors=True)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as fh:
        workloads = [w["name"] for w in json.load(fh)["workloads"]]
    for w in workloads:
        gen.make_inputs(w, 0, 1, os.path.join(d, w), names, scale=0.1, registry=True)
    archive = os.path.join(out, "cds.jsa")
    r = subprocess.run(java(jar, *HEAP, f"-Djava.io.tmpdir={d}", "perfbench.Main", "train", d,
                            archive=archive, record=True),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    shutil.rmtree(d, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(archive):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: training run failed")


if __name__ == "__main__":
    print(build())
