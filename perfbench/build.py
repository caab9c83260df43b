"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala of the checkout) together with the benchmark's own JVM
driver (perfbench/src) into .bench_build/classes, with the Scala compiler
and Spark jars of $SPARK_HOME/jars on the classpath.

    python3 perfbench/build.py        # build if any source changed

The build is skipped when a digest of every source file matches the
digest recorded by the last successful build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.digest")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else ""
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("SPARK_HOME must point at a Spark install whose "
                         "jars/ holds the Scala compiler")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources not found under {engine}")
    files = []
    for base in (engine, os.path.join(ROOT, "perfbench", "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def ensure(log=sys.stderr):
    """Compile unless the recorded digest is current; return the classpath."""
    files = sources()
    jars = spark_jars()
    want = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-d", CLASSES, "-classpath", os.path.join(jars, "*"),
           "@" + argfile]
    print("[perfbench] compiling %d sources" % len(files), file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError("scalac failed")
    with open(STAMP, "w") as fh:
        fh.write(want)
    return classpath()


if __name__ == "__main__":
    try:
        ensure()
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
