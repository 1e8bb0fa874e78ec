"""Build file of the benchmark package.

Compiles graft's main sources (``src/main/scala``) together with the
benchmark's own sources (``perfbench/src``) with the Scala 2.13
compiler that ships in Spark's jar directory, so a fresh checkout
builds without sbt, a network or an ivy cache. The classes go into one
jar. A stamp of every compiled file's path and content skips the build
when nothing changed.

    python3 perfbench/build.py            # build into .bench_build
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("feature_store", "embedding_ann", "corpus_dedup")
HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    graft's own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) if os.path.exists(sbt) else None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def sources():
    """Every Scala file of the program and of the benchmark, sorted."""
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(first):
    jars = spark_jars()
    return os.pathsep.join([first] + sorted(
        os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar")))


def java_cmd(jar, tmp, main_args, cds):
    """The benchmark JVM: fixed heap, Spark's JDK 17 module opens, all
    temporary files under `tmp`, and `cds`, the -XX flag that maps or
    writes the class-data archive."""
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:ReservedCodeCacheSize=256m",
             "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
            + [cds]
            + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={tmp}",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               f"-Dspark.local.dir={tmp}", f"-Dderby.system.home={tmp}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-Dspark.driver.host=localhost", "-Dspark.driver.bindAddress=127.0.0.1",
               "-cp", classpath(jar), "graftbench.Main"]
            + main_args)


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def compile_jar(srcs, out, jar, log):
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    compiler = os.pathsep.join(sorted(
        os.path.join(jars, j) for j in os.listdir(jars)
        if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", j)))
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", classpath(tmp), "@" + argfile],
        stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(tmp):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, tmp))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(tmp)


def build(log=sys.stderr):
    """Build if the sources changed; return (jar, class-data archive path).

    The first run after a build writes the archive of the classes it
    loaded (JDK dynamic class-data sharing); later runs map it instead
    of loading each class again. A rebuild drops the stale archive."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no graft sources under src/main/scala; run from a graft checkout")
    if not os.path.isdir(spark_jars()):
        raise SystemExit(f"perfbench: Spark jars not found at {spark_jars()} (set SPARK_HOME)")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs + [os.path.join(HERE, "build.py")]:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    jar = os.path.join(out, "graft-bench.jar")
    archive = os.path.join(out, "graft-bench.jsa")
    stamp_file = os.path.join(out, "build.stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        for f in (jar, archive):
            if os.path.exists(f):
                os.remove(f)
        t0 = time.time()
        print(f"perfbench: compiling {len(srcs)} files", file=log, flush=True)
        compile_jar(srcs, out, jar, log)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        print(f"perfbench: built in {time.time() - t0:.1f}s", file=log, flush=True)
    return jar, archive


if __name__ == "__main__":
    build()
