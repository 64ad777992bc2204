"""Build file of the benchmark: compiles the program and the benchmark.

The program is the repository's `src/main/scala`, built against the Spark
jars its `build.sbt` names (`unmanagedBase`, or `$SPARK_HOME/jars`); the
benchmark is `perfbench/src`, built against the program. Both are compiled
with the Scala compiler that ships among those jars, into `.bench_build/`
at the repository root. A stamp over every source file skips the build when
nothing changed.

    python3 perfbench/build.py        # prints the runtime classpath and the stamp
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("build: no Spark jars (set SPARK_HOME or unmanagedBase in build.sbt)")
    return m.group(1)


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def read(path):
    with open(path) as f:
        return f.read()


def java_opts():
    return ["-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}/tmp"]


def build():
    """Compile when stale; return the runtime classpath and the build stamp,
    a digest of the Spark jar directory and every program and benchmark
    source."""
    jars = spark_jars()
    app_src, bench_src = sources(os.path.join(ROOT, "src", "main", "scala")), sources(os.path.join(HERE, "src"))
    if not app_src:
        raise SystemExit("build: no program sources under src/main/scala")
    h = hashlib.sha256(jars.encode())
    for p in app_src + bench_src:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    app, bench = os.path.join(classes, "app"), os.path.join(classes, "bench")
    cp = [bench, app, os.path.join(jars, "*")]
    stamp_file = os.path.join(classes, "stamp")
    if os.path.exists(stamp_file) and read(stamp_file) == stamp:
        return os.pathsep.join(cp), stamp
    shutil.rmtree(classes, ignore_errors=True)
    for d in (app, bench, os.path.join(OUT, "tmp")):
        os.makedirs(d, exist_ok=True)
    scalac = ["java", *java_opts(), "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn"]
    for out, srcs, extra in ((app, app_src, []), (bench, bench_src, [app])):
        r = subprocess.run(scalac + ["-d", out, "-classpath", os.pathsep.join(extra + [os.path.join(jars, "*")])] + srcs,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return os.pathsep.join(cp), stamp


if __name__ == "__main__":
    print(*build(), sep="\n")
