"""Build file of the benchmark: compiles graft and the harness.

The benchmark is its own package. It compiles the library sources
(`src/main/scala` plus `src/main/resources`) together with the harness
sources (`perfbench/scala`) into one jar under `.bench_build/perfbench/`,
with the Scala compiler that ships in the Spark distribution's `jars/`
directory (the jars the library is compiled and run against). It then runs
every workload once at a tiny size to record a JVM class-data archive, which
roughly halves JVM and Spark start-up in every later run. A content hash of
every input is stored beside the outputs, so an unchanged checkout is not
rebuilt.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(BUILD_DIR, "perfbench.jar")
ARCHIVE = os.path.join(BUILD_DIR, "perfbench.jsa")
STAMP = os.path.join(BUILD_DIR, "build.stamp")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "scala")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else the
    one beside the `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    if not any(f.startswith("scala-compiler") for f in os.listdir(jars)):
        raise BuildError(f"{jars} holds no scala-compiler jar")
    return jars


def java_command(classpath, args, archive=None, record=None, work=None):
    """The benchmark JVM's command line (Spark on JDK 17 needs the opens
    that spark-submit would add)."""
    cmd = ["java", "-Xss8m", "-Xmx4g", "-XX:-UsePerfData"]
    if work:
        cmd.append(f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    if record:
        cmd += [f"-XX:ArchiveClassesAtExit={record}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    elif archive:
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + ["-cp", classpath, "perfbench.Main"] + args


def main_args(workload, seed, seconds, trace, size, corrupt, work, result, spans):
    return ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--size", size, "--corrupt-reference", str(corrupt),
            "--cores", str(len(os.sched_getaffinity(0))), "--work", work,
            "--result", result, "--spans", spans,
            "--python", sys.executable, "--oracle", os.path.join(HERE, "oracle.py")]


def _files(root, suffix=""):
    out = []
    for d, _, names in os.walk(root):
        out.extend(os.path.join(d, n) for n in names if n.endswith(suffix))
    return sorted(out)


def _inputs():
    if not os.path.isdir(LIB_SRC):
        raise BuildError(f"library sources not found at {os.path.relpath(LIB_SRC, ROOT)}")
    if not os.path.isdir(BENCH_SRC):
        raise BuildError("harness sources not found")
    sources = _files(LIB_SRC, ".scala") + _files(BENCH_SRC, ".scala")
    resources = _files(LIB_RES) if os.path.isdir(LIB_RES) else []
    return sources, resources


def _digest(paths, jars):
    h = hashlib.sha256()
    h.update(repr(sorted(os.listdir(jars))).encode())
    for p in paths + [os.path.abspath(__file__), os.path.join(HERE, "oracle.py")]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _compile(jars, sources, resources, log):
    classes = os.path.join(BUILD_DIR, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(f'"{s}"' for s in sources) + "\n")
    print(f"perfbench: compiling {len(sources)} Scala files", file=log, flush=True)
    res = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
                          "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                          "-classpath", os.path.join(jars, "*"), "@" + argfile],
                         stdout=log, stderr=log)
    if res.returncode != 0:
        raise BuildError(f"scalac exited with {res.returncode}")
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for f in _files(classes):
            z.write(f, os.path.relpath(f, classes))
        for r in resources:
            z.write(r, os.path.relpath(r, LIB_RES))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(classes)


def _record_archive(classpath, log):
    print("perfbench: recording the class-data archive", file=log, flush=True)
    work = os.path.join(BUILD_DIR, "runs", "archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cmd = java_command(classpath, main_args("all", 1, 0, 0, "tiny", 0, work,
                                                os.path.join(work, "result.json"),
                                                os.path.join(work, "spans.jsonl")),
                           record=ARCHIVE + ".tmp", work=work)
        res = subprocess.run(cmd, cwd=work, stdout=log, stderr=log, timeout=600)
        if res.returncode != 0 or not os.path.isfile(ARCHIVE + ".tmp"):
            raise BuildError(f"class-loading run exited with {res.returncode}")
        os.replace(ARCHIVE + ".tmp", ARCHIVE)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build(log=sys.stderr):
    """Build when the inputs changed; return (classpath, class-data archive)."""
    jars = spark_jars()
    sources, resources = _inputs()
    digest = _digest(sources + resources, jars)
    classpath = os.pathsep.join([JAR, os.path.join(jars, "*")])
    if os.path.isfile(STAMP) and open(STAMP).read().strip() == digest:
        return classpath, ARCHIVE
    os.makedirs(BUILD_DIR, exist_ok=True)
    for f in (STAMP, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    _compile(jars, sources, resources, log)
    _record_archive(classpath, log)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    return classpath, ARCHIVE


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
