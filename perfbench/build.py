"""Build file of the benchmark: compiles the engine and the benchmark.

The engine (`src/main/scala` of the checkout) and the benchmark's own
Scala sources (`perfbench/scala`) compile with the Scala compiler that
ships in Spark's jar directory, into two separate class directories under
`perfbench/.build`. Keeping the benchmark's classes out of the engine's
directory keeps them out of the model store's build fingerprint, so a
benchmark edit never invalidates fitted artifacts.

A stamp of the sources' content skips the build when nothing changed.

    python3 perfbench/build.py        # build if needed, print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the jars next to the
    first spark-submit on PATH that has them."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark jar directory with a Scala compiler: set SPARK_HOME")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-release", "17", "-nowarn",
           "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"compile failed: {out}")


def build():
    """Compile when the sources changed; return the runtime classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(main_src):
        raise SystemExit(f"engine sources not found: {main_src}")
    jars = spark_jars()
    app_files = sources(main_src)
    bench_files = sources(os.path.join(HERE, "scala"))
    app, bench = os.path.join(OUT, "app"), os.path.join(OUT, "bench")
    key = stamp(app_files + bench_files)
    stamp_file = os.path.join(OUT, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == key):
        shutil.rmtree(OUT, ignore_errors=True)
        scalac(jars, os.path.join(jars, "*"), app, app_files)
        scalac(jars, app + os.pathsep + os.path.join(jars, "*"), bench,
               bench_files)
        with open(stamp_file, "w") as fh:
            fh.write(key)
    return os.pathsep.join([bench, app, resources, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build())
