"""Build file of the benchmark: compiles the engine and the harness.

The engine sources (src/main/scala) and the harness sources
(perfbench/src) are compiled together with the Scala 2.13 compiler that
ships inside the Spark distribution, packed into one jar, and then a short
training run (every workload's setup and first operations, `--workload
train`) records a class-data-sharing archive of every class it loaded.
Benchmark JVMs map that archive instead of loading and verifying ~20k
Spark classes from jars, which takes 5-7 s off every run's set-up and
keeps three workloads' comparison runs inside their time budget (see
README.md, "Run length and steadiness"). A build whose training run fails
fails as a whole, and runs start with -Xshare:on, so every run maps the
archive: no run silently starts the slow way. The output directory is
keyed by a hash of every source file, the compiler arguments, the Spark
version and the session file, so only the first run in a checkout builds.

    python3 perfbench/build.py          # builds, prints the output directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(BENCH_DIR, "src")
SESSION = os.path.join(BENCH_DIR, "session.properties")
SCALAC_ARGS = ["-usejavacp", "-nowarn", "-release", "17"]
TRAIN_TIMEOUT_S = 300

# what spark-submit would add for Spark 4 on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory (the engine's only dependency):
    $SPARK_HOME/jars, else the one next to `spark-submit` on the PATH, else
    pyspark's."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(submit)), "jars"))
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec is not None and spec.submodule_search_locations:
            candidates.append(os.path.join(
                list(spec.submodule_search_locations)[0], "jars"))
    except (ImportError, ValueError):
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_2.13-*.jar")):
            return c
    raise BuildError("no Spark 2.13 jar directory found in %s" % candidates)


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(HARNESS_SRC, "**", "*.scala"),
                               recursive=True))
    if not engine:
        raise BuildError("engine sources missing: %s" % ENGINE_SRC)
    if not harness:
        raise BuildError("harness sources missing: %s" % HARNESS_SRC)
    return engine + harness


def cores():
    return len(os.sched_getaffinity(0))


def classpath(out):
    """The harness jar, then every Spark jar in a fixed order (the class
    data archive is only valid for the classpath it was recorded with)."""
    return os.pathsep.join([os.path.join(out, "perfbench.jar")] +
                           sorted(glob.glob(os.path.join(spark_jars(), "*.jar"))))


def jvm_command(out, workdir, args, extra=()):
    """The benchmark JVM: options from the session file, then the harness."""
    opts = []
    with open(SESSION) as f:
        for line in f:
            if line.strip().startswith("jvm.options"):
                opts += line.split("=", 1)[1].split()
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    opts += ["-XX:ActiveProcessorCount=%d" % cores(),
             "-Djava.io.tmpdir=" + os.path.join(workdir, "tmp"),
             "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties")]
    return (["java"] + opts + list(extra) + ["-cp", classpath(out), "perfbench.Main"] +
            list(args) + ["--session", SESSION, "--dir", workdir,
                          "--cores", str(cores())])


def archive_option(out):
    """Map the build's class data archive; the JVM refuses to start
    without it."""
    return ["-Xshare:on", "-XX:SharedArchiveFile=" + os.path.join(out, "perfbench.jsa")]


def _compile(srcs, jars, tmp):
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main"] + SCALAC_ARGS + ["-d", classes, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-8000:])
        raise BuildError("scalac failed with code %d" % proc.returncode)
    with zipfile.ZipFile(os.path.join(tmp, "perfbench.jar"), "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    os.remove(argfile)


def _train(tmp):
    """Record the class data archive."""
    workdir = os.path.join(tmp, "train")
    os.makedirs(os.path.join(workdir, "tmp"))
    jsa = os.path.join(tmp, "perfbench.jsa")
    cmd = jvm_command(tmp, workdir, ["--workload", "train", "--seed", "0",
                                     "--seconds", "0", "--trace", "0", "--plant", "0"],
                      ["-XX:ArchiveClassesAtExit=" + jsa, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"])
    try:
        proc = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                              cwd=workdir, timeout=TRAIN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("training run timed out after %d s" % TRAIN_TIMEOUT_S)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    if proc.returncode != 0 or not os.path.isfile(jsa):
        sys.stderr.write(proc.stderr.decode(errors="replace")[-8000:])
        raise BuildError("training run failed with code %d, no class data archive"
                         % proc.returncode)


def build():
    """Build if needed; return the output directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    h.update(" ".join(SCALAC_ARGS).encode())
    # the archive is only valid for the jar paths it was recorded with
    h.update(jars.encode())
    h.update(os.path.basename(glob.glob(
        os.path.join(jars, "spark-sql_2.13-*.jar"))[0]).encode())
    for s in srcs + [SESSION]:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD_DIR, "perfbench-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        _compile(srcs, jars, tmp)
    except BuildError:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    # the archive records the jar's path: train where the jar will live
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.rename(tmp, out)
    try:
        _train(out)
    except BuildError:
        shutil.rmtree(out, ignore_errors=True)
        raise
    open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.stderr.write("build: %s\n" % e)
        sys.exit(2)
