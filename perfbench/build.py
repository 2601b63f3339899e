"""Compile the checked-out program and the benchmark's JVM code.

Sources: every .scala file under `src/main/scala` (the program) and under
`perfbench/src` (the workloads and tracer), compiled in one pass with the
Scala compiler that ships in Spark's jar directory, against Spark's jars.
Spark is found through `$SPARK_HOME`, else through `spark-submit` on the
`PATH`, else as the copy pyspark bundles.
No build file of the repository is read or changed and nothing is fetched.

Output: `.bench_build/perfbench/classes`, reused while a hash of every
source file stays the same. Run from the root of a checkout:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "stamp")


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the installation
    that holds `spark-submit` on the PATH, else the one pyspark bundles."""
    homes = [os.environ.get("SPARK_HOME")]
    if shutil.which("spark-submit"):
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit")))))
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark installation with a Scala compiler found")


def sources():
    prog = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    if not prog or not bench:
        raise SystemExit("perfbench: program sources not found (run from a checkout root)")
    return prog + bench


def classpath():
    return os.pathsep.join([os.path.abspath(CLASSES),
                            os.path.abspath("src/main/resources"),
                            os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-cp", jars, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=log, flush=True)
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        log.write(p.stdout[-20000:])
        raise SystemExit("perfbench: compilation failed")
    with open(STAMP, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build()
