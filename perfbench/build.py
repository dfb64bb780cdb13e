"""Build file of the benchmark: compiles the library (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in Spark's jars,
packages them with the library's resources into one jar, and records a
class-data-sharing archive so each benchmark JVM starts faster.

No sbt, no dependency resolution: the classpath is exactly Spark's jars, the
same jars the repository's own build compiles against. The output goes to
.bench_build/perfbench under the directory the benchmark runs from, and is
rebuilt only when a source file changes.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = os.path.join(".bench_build", "perfbench")
JAR = os.path.join(BUILD_DIR, "perfbench.jar")
ARCHIVE = os.path.join(BUILD_DIR, "perfbench.jsa")
STAMP = os.path.join(BUILD_DIR, "build.stamp")
LIB_SOURCES = os.path.join("src", "main", "scala")
LIB_RESOURCES = os.path.join("src", "main", "resources")
HARNESS_SOURCES = os.path.join("perfbench", "src")
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions passes).
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


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
        raise BuildError("Spark not found: set SPARK_HOME to a Spark 4.x install")
    return home


def spark_jars():
    return sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar")))


def files_under(root, suffix=""):
    found = []
    for dirpath, _, files in os.walk(root):
        found += [os.path.join(dirpath, f) for f in files if f.endswith(suffix)]
    return sorted(found)


def sources():
    if not os.path.isdir(LIB_SOURCES):
        raise BuildError(f"library sources missing: {LIB_SOURCES} "
                         "(run from the repository root)")
    return files_under(LIB_SOURCES, ".scala") + files_under(HARNESS_SOURCES, ".scala")


def digest(paths):
    h = hashlib.sha256()
    for p in paths + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([JAR] + spark_jars())


def java_cmd(main_class, args, tmpdir, archive_flag=None):
    """The benchmark JVM: fixed heap, parallel collector (G1's concurrent
    threads made pass times swing ±20% between JVMs), no perf-data file
    (it would go to the system temp dir), JVM warnings on stderr so stdout
    carries only the report."""
    if archive_flag is None and os.path.exists(ARCHIVE):
        archive_flag = "-XX:SharedArchiveFile=" + ARCHIVE
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m",
             "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Xlog:disable", "-Xlog:all=warning:stderr",
             f"-Djava.io.tmpdir={tmpdir}",
             "-Dlog4j2.configurationFile=" +
             os.path.join("perfbench", "log4j2.properties")]
            + ([archive_flag] if archive_flag else [])
            + [x for m in ADD_OPENS for x in ("--add-opens", m + "=ALL-UNNAMED")]
            + ["-cp", classpath(), main_class] + args)


def compile_jar(srcs, log):
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("scala-compiler/library/reflect jars not in Spark's jars")
    classes = os.path.join(BUILD_DIR, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "-classpath", os.pathsep.join(jars),
                        "-d", classes, "-nowarn", "@" + argfile],
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    # class-data sharing needs jars, not directories, on the classpath
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for root in (classes, LIB_RESOURCES):
            for p in files_under(root):
                z.write(p, os.path.relpath(p, root))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(classes)


def record_archive(log):
    """Run the self-test once, dumping the classes it loads; later JVMs map
    them instead of loading and verifying them again. A failed dump leaves
    no archive, and runs start without one."""
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "archive-run"))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(BUILD_DIR, "archive.log")
    print(f"[perfbench] recording the class-data archive (log: {out})",
          file=log, flush=True)
    with open(out, "w") as f:
        r = subprocess.run(java_cmd("perfbench.SelfTest", [tmp], tmp,
                                    "-XX:ArchiveClassesAtExit=" + ARCHIVE),
                           stdout=f, stderr=f)
    shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def build(log=sys.stderr):
    srcs = sources()
    stamp = digest(srcs + files_under(LIB_RESOURCES))
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    os.makedirs(BUILD_DIR, exist_ok=True)
    for f in (STAMP, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    compile_jar(srcs, log)
    record_archive(log)
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
