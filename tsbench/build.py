"""Build step of the benchmark.

Compiles the repository's main Scala sources together with the harness in
tsbench/src, using the Scala compiler that ships in Spark's jar directory
(the directory build.sbt names as its unmanagedBase), into one jar. Then prepares
surface's fixed input in a JVM that also writes a class-data-sharing
archive, which later JVMs map instead of loading Spark's classes one by
one. Outputs go to .bench_build/tsbench/ in the checkout and are reused
while the sources they come from are unchanged.
"""
import zipfile
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(".bench_build", "tsbench")

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def _scala_files(top):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def _digest(files, extra=()):
    h = hashlib.sha256()
    for x in extra:
        h.update(x.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_jars(root):
    """The jar directory the repository's build.sbt compiles against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(os.path.join(root, "build.sbt")).read())
    if not m:
        raise SystemExit("tsbench: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def build(root):
    """(jar, surface input dir, archive) for the current sources."""
    program = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(program) or not os.path.isfile(os.path.join(root, "build.sbt")):
        raise SystemExit("tsbench: no program sources at src/main/scala; run from the repository root")
    jars = spark_jars(root)
    files = _scala_files(program) + _scala_files(os.path.join(HERE, "src"))
    out = os.path.join(root, OUT, "build-" + _digest(files, sorted(os.listdir(jars))))
    jar = os.path.join(out, "bench.jar")
    data = os.path.join(out, "surface")
    archive = os.path.join(out, "classes.jsa")
    if os.path.isfile(os.path.join(out, "done")):
        return jar, data, archive
    base = os.path.join(root, OUT)
    for old in os.listdir(base) if os.path.isdir(base) else []:
        if old.startswith("build-"):
            shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-classpath", cp, "-d", classes] + files,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("tsbench: compilation failed")
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    work = os.path.join(out, "prepare-work")
    log = os.path.join(out, "prepare.log")
    with open(log, "w") as fh:
        r = subprocess.run(java_cmd(root, jar, work, None, ["-XX:ArchiveClassesAtExit=" + archive]) +
                           ["--mode", "prepare", "--work", work, "--data", data,
                            "--out", os.path.join(work, "out.json")],
                           stdout=fh, stderr=subprocess.STDOUT, env=jvm_env())
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        raise SystemExit("tsbench: preparing surface input failed; see " + log)
    open(os.path.join(out, "done"), "w").close()
    return jar, data, archive


def java_cmd(root, jar, work, archive, extra=(), heap="3g"):
    """The fixed JVM launch: equal initial and maximum heap, fixed GC and
    JIT thread counts, temporary files inside the run's work directory,
    and the class-data-sharing archive when the build made one."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds = ["-XX:SharedArchiveFile=" + archive] if archive and os.path.isfile(archive) else []
    return (["java", "-Xms" + heap, "-Xmx" + heap, "-Xss4m", "-XX:+UseG1GC",
             "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2",
             "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"] + cds + list(extra) + ADD_OPENS +
            ["-cp", jar + os.pathsep + os.path.join(spark_jars(root), "*"), "tsbench.Main"])


def jvm_env():
    env = dict(os.environ)
    for k in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS", "SPARK_CONF_DIR", "_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS"):
        env.pop(k, None)
    return env
