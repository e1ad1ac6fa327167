"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark harness (perfbench/scala) from source with the Scala compiler that
ships in Spark's jar directory into .bench_build/bench.jar of the checkout,
lists the query registry there, and records a class-data-sharing archive of
the classes a session start and warm-up load (.bench_build/classes.jsa), so
that every run's JVM starts without re-parsing them. A build is reused while
no source file changed.

    python3 perfbench/build.py          # build (or reuse) and print the jar
"""
import glob
import hashlib
import zipfile
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
JVM_HEAP = "2g"

# Spark 4 on JDK 17 needs these outside spark-submit (build.sbt sets the
# same list, plus jdk.internal.ref for Kryo on spilled checkpoint blocks).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_opens():
    return [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return os.path.realpath(c)
    raise SystemExit("perfbench: no Spark jar directory (set SPARK_HOME)")


def sources(root):
    files = []
    for base in ("src/main/scala", "perfbench/scala"):
        files += glob.glob(os.path.join(root, base, "**", "*.scala"), recursive=True)
    return sorted(files)


def jvm(root, jars, main_args, extra=()):
    """The java command line of the harness. Build and runs share it, so the
    class-data-sharing archive matches the JVM that maps it."""
    out = os.path.join(root, BUILD_DIR)
    archive = os.path.join(out, "classes.jsa")
    share = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    return ["java", *java_opens(), "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", "-Xss8m", *share,
            *extra, "-cp", f"{os.path.join(out, 'bench.jar')}:{os.path.join(jars, '*')}",
            "graft.perfbench.Main", *main_args]


def ensure(root):
    """Compile if needed; return the Spark jar directory."""
    src = sources(root)
    if not any("/src/main/scala/" in f for f in src):
        raise SystemExit("perfbench: no library sources under src/main/scala")
    jars = spark_jars()
    digest = hashlib.sha256(jars.encode())
    for f in src:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = digest.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jars
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(src) + "\n")
    cp = os.path.join(jars, "*")
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", classes, "-cp", cp, "@" + argfile], check=True)
    # class-data sharing maps classes from jars only
    with zipfile.ZipFile(os.path.join(out, "bench.jar"), "w", zipfile.ZIP_STORED) as jar:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                jar.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    # list the registry, then start a session and warm it up once, recording
    # the classes loaded on the way into the archive the runs map
    work = os.path.join(out, "prepare")
    os.makedirs(work)
    prep = subprocess.run(jvm(root, jars, ["--prepare", os.path.join(out, "registry.json"),
                                    os.path.join(root, "perfbench", "fixture"), work],
                       [f"-XX:ArchiveClassesAtExit={os.path.join(out, 'classes.jsa')}",
                        f"-Djava.io.tmpdir={work}"]),
                   cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    if prep.returncode != 0:
        sys.stderr.write(prep.stderr[-4000:])
        raise SystemExit(f"perfbench: the build's prepare step exited with {prep.returncode}")
    shutil.rmtree(work)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jars


if __name__ == "__main__":
    ensure(os.getcwd())
    print(os.path.join(os.getcwd(), BUILD_DIR, "bench.jar"))
    sys.exit(0)
