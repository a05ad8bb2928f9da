"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler that ships
in Spark's jar directory, into jars under ``.bench_build/`` of the
checkout.

Each jar is named after a hash of its sources, so a second run reuses it
and an edited source tree gets a fresh build.  The classes go into jars,
not directories, because the JVM's class-data-sharing archive that
run.py keeps next to them only covers classes loaded from jars.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

OUT = ".bench_build"


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt takes
    its unmanaged jars from."""
    if "SPARK_HOME" in os.environ:
        where = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no jar directory")
        where = m.group(1)
    jars = sorted(glob.glob(os.path.join(where, "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        raise SystemExit(f"no Spark jars with a Scala compiler under {where}")
    return jars


def _sources(root):
    files = sorted(glob.glob(os.path.join(root, "**", "*.scala"),
                             recursive=True))
    if not files:
        raise SystemExit(f"no Scala sources under {root}")
    return files


def _digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _compile(files, classpath, jar):
    if os.path.exists(jar):
        return jar
    tmp = jar + ".d"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.pathsep.join(spark_jars()), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(classpath)]
    r = subprocess.run(cmd + files, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"compile failed: {jar}")
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for f in sorted(glob.glob(os.path.join(tmp, "**", "*"),
                                  recursive=True)):
            if os.path.isfile(f):
                z.write(f, os.path.relpath(f, tmp))
    os.rename(jar + ".tmp", jar)
    shutil.rmtree(tmp)
    return jar


def build():
    """Compile what is stale; return the harness's runtime classpath as a
    list of jars."""
    os.makedirs(OUT, exist_ok=True)
    jars = spark_jars()
    engine_src = _sources(os.path.join("src", "main", "scala"))
    engine = _compile(engine_src, jars, os.path.join(
        OUT, f"engine-{_digest(engine_src)}.jar"))
    bench_src = _sources(os.path.join("perfbench", "src"))
    bench = _compile(bench_src, [engine] + jars, os.path.join(
        OUT, f"bench-{_digest(bench_src, os.path.basename(engine))}.jar"))
    return [bench, engine] + jars


if __name__ == "__main__":
    print(os.pathsep.join(build()))
