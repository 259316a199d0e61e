"""Build file of the benchmark.

Compiles the engine's sources (`src/main/scala`, plus its resources)
together with the benchmark harness (`perfbench/harness`) against the
Spark jars, with the Scala compiler those jars ship, into one jar. Then
a training pass runs every workload query once on tiny generated tables
and dumps a JVM class-data archive, so the measured runs load the
engine, Spark and Scala classes from a shared archive instead of
parsing and verifying each jar again. Output is cached under
`.bench_build/` by a hash of every source file, `spec.json` and this
file, so only the first run in a checkout builds.

Usage: python3 perfbench/build.py   (prints the build directory)
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"
SOURCE_DIRS = ["src/main/scala", "perfbench/harness"]
RESOURCES = "src/main/resources"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spark_jars_dir():
    """The Spark jars the repository's own build compiles against
    (`unmanagedBase` in build.sbt); the SPARK_JARS variable overrides it."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m is None:
        raise SystemExit("build.sbt names no unmanagedBase jar directory; set SPARK_JARS")
    return m.group(1)


def jar_classpath():
    jar_dir = spark_jars_dir()
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        raise SystemExit(f"no Spark/Scala jars under {jar_dir}")
    return os.pathsep.join(jars)


def spark_cores():
    """Spark's local cores: `cpus` of spec.json, at most the cores this
    process may run on. Fewer task threads than cores leaves room for
    the JIT, the GC and the host's other tenants, so a run measures the
    engine rather than the CPU scheduler."""
    with open(os.path.join(HERE, "spec.json")) as f:
        want = json.load(f)["cpus"]
    return max(1, min(want, len(os.sched_getaffinity(0))))


def files_under(dirs, suffixes=None):
    out = []
    for d in dirs:
        for root, _, names in os.walk(d):
            out += [os.path.join(root, n) for n in names if suffixes is None or n.endswith(suffixes)]
    return sorted(out)


def harness_cmd(out, run_dir, harness_args, archive="use"):
    """The harness JVM command line: graft.Bench's JVM options, scratch
    space under `run_dir`, and the class-data archive to use or dump."""
    jsa = os.path.join(out, "app.jsa")
    cds = {"use": f"-XX:SharedArchiveFile={jsa}", "dump": f"-XX:ArchiveClassesAtExit={jsa}"}[archive]
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-XX:-UsePerfData", "-Xmx2g",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        "-cp", os.path.join(out, "engine.jar") + os.pathsep + jar_classpath(),
        "perfbench.Harness"] + [f"{k}={v}" for k, v in harness_args.items()])


def run_harness(out, run_dir, harness_args, timeout, archive="use"):
    """Run the harness in `run_dir/work`; returns its record."""
    for d in ("work", "tmp", "local", "check"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    args = dict(harness_args, check=f"{run_dir}/check", out=f"{run_dir}/out.json",
                localDir=f"{run_dir}/local", cpus=spark_cores())
    log_path = os.path.join(run_dir, "harness.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(harness_cmd(out, run_dir, args, archive),
                               cwd=os.path.join(run_dir, "work"), stdout=log,
                               stderr=subprocess.STDOUT, timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit("harness timed out")
    if r.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness failed with exit code {r.returncode}")
    with open(os.path.join(run_dir, "out.json")) as f:
        return json.load(f)


def compile_jar(out, srcs):
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cp = jar_classpath()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compilation failed")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
    # the class-data archive takes classes from jars only
    with zipfile.ZipFile(os.path.join(out, "engine.jar"), "w") as z:
        for f in files_under([classes]):
            z.write(f, os.path.relpath(f, classes))
    shutil.rmtree(classes)


def train_archive(out):
    """One untimed pass of every workload query on tiny tables, dumping
    the classes it loaded into `out/app.jsa`."""
    import gen
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    queries = sorted({q for w in spec["workloads"].values() for q in w["queries"]})
    run_dir = os.path.join(out, "train")
    gen.generate(os.path.join(run_dir, "data"), 0.001, 0)
    rec = run_harness(out, run_dir, {
        "queries": ",".join(queries), "seed": 0, "cycles": 0,
        "warmCycles": 0, "trace": 0, "data": f"{run_dir}/data"}, timeout=600, archive="dump")
    shutil.rmtree(run_dir)
    if rec["errors"] or not os.path.isfile(os.path.join(out, "app.jsa")):
        raise SystemExit(f"class-data training pass failed: {rec['errors']}")


def build():
    """Build if needed; return the build directory."""
    if not os.path.isfile("src/main/scala/graft/SparkEntry.scala"):
        raise SystemExit("engine sources not found: run from the repository root")
    srcs = files_under(SOURCE_DIRS, (".scala", ".java"))
    h = hashlib.sha256()
    for f in srcs + files_under([RESOURCES]) + [os.path.join(HERE, n) for n in ("spec.json", "build.py")]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.abspath(os.path.join(BUILD_DIR, "build-" + h.hexdigest()[:16]))
    if os.path.isfile(os.path.join(out, ".done")):
        return out
    for stale in glob.glob(os.path.join(BUILD_DIR, "build-*")):
        shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(out)
    try:
        compile_jar(out, srcs)
        train_archive(out)
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    print(build())
