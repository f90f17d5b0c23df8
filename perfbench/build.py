"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) into .bench_build/classes with the
Scala compiler that ships in Spark's jars directory, the same jars
build.sbt compiles against. A stamp of the sources skips the compile when
nothing changed.

Usage: python3 perfbench/build.py      (run.py calls build() itself)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")

# build.sbt's javaOptions: Spark on JDK 17 needs these outside spark-submit
ADD_OPENS = [a for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
] for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found (set JAVA_HOME or put java on PATH)")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark jars with a Scala compiler (set SPARK_HOME)")
    return jars


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]
    for d in dirs:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
    return sorted(os.path.join(dp, f) for d in dirs for dp, _, fs in os.walk(d)
                  for f in fs if f.endswith(".scala"))


def build():
    """Compile if the sources changed; returns the classpath to run with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    cp = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scalac = [glob.glob(os.path.join(jars, f"scala-{n}-*.jar"))[0]
              for n in ("compiler", "library", "reflect")]
    r = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(scalac),
         "scala.tools.nsc.Main", "-encoding", "UTF-8", "-nowarn", "-d", tmp,
         "-cp", os.path.join(jars, "*")] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return cp


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
