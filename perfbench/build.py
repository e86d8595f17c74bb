"""Build file of the benchmark: compiles graft's `src/main` (Scala and Java)
and the benchmark's own `perfbench/src` into one class directory, with the
Scala compiler and Spark jars of the local Spark install.

    python3 perfbench/build.py            # build if any source changed

The output goes to `$CARGO_TARGET_DIR/graftbench` when that variable is set,
else `.bench_build/graftbench`, relative to the repository root. A stamp of
the source hashes skips the build when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("graftbench build: no Spark install with a Scala compiler "
                 "(set SPARK_HOME)")
    return os.path.join(jars, "*")


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, base, "graftbench")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*.scala"), recursive=True) +
                  glob.glob(os.path.join(ROOT, "src/main/**/*.java"), recursive=True))
    if not main:
        sys.exit("graftbench build: graft sources (src/main) not found")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/*.scala")))
    return main, bench


def build():
    """Return the classpath of the built benchmark, building if stale."""
    main, bench = sources()
    jars = spark_jars()
    out = out_dir()
    h = hashlib.sha256()
    for f in main + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    classes = os.path.join(out, "classes")
    cp = classes + os.pathsep + jars
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    java_src = [f for f in main if f.endswith(".java")]
    steps = [
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main", "-usejavacp",
         "-nowarn", "-d", classes] + main + bench,
    ]
    if java_src:
        steps.append(["javac", "-encoding", "UTF-8", "-nowarn", "-d", classes,
                      "-cp", cp] + java_src)
    for cmd in steps:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            sys.exit(f"graftbench build failed: {cmd[0]} exited {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
