"""Build step of the benchmark: compiles graft's sources together with the
benchmark harness into `.bench_build/classes-<digest>` with the Scala
compiler that ships among the Spark jars. Nothing outside the checkout is
written; a build is reused while no source file changes.

    python3 perfbench/build.py        # build (or reuse) and print the class dir
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = [os.path.join(HERE, "src", "main", "scala"), os.path.join(HERE, "src", "test", "scala")]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark jars found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found: set JAVA_HOME")
    return exe


def sources():
    if not os.path.isdir(PROGRAM_SRC) or not os.path.isdir(RESOURCES):
        raise BuildError("graft sources not found next to the benchmark (src/main/scala)")
    out = []
    for d in [PROGRAM_SRC] + BENCH_SRC:
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(classes):
    return os.pathsep.join([classes, RESOURCES] + spark_jars())


def ensure_built(log=sys.stderr):
    """Compile if needed; return the class directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    tmp = classes + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    args_file = os.path.join(tmp, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    print("compiling %d sources into %s" % (len(srcs), os.path.relpath(classes, ROOT)), file=log, flush=True)
    proc = subprocess.run(
        [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-cp", cp, "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    os.remove(args_file)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    for stale in glob.glob(os.path.join(BUILD, "classes-*")):
        if stale != classes and ".tmp-" not in stale:  # builds of older sources
            shutil.rmtree(stale, ignore_errors=True)
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
