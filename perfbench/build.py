"""Build file of the graft benchmark: compiles graft's sources
(src/main/scala) and the benchmark harness (perfbench/src) with the Scala
compiler that ships in Spark's jar directory, into one class directory.

The build is skipped when a stamp of every source file and of the Spark jar
list matches the previous build. Run directly to build:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars() -> str:
    """$SPARK_HOME/jars, else the jars bundled with the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"no Spark jars under {jars!r}; set SPARK_HOME")
    return jars


def sources() -> list:
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit("graft's sources (src/main/scala) are missing")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def classpath() -> str:
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr) -> str:
    """Compile if anything changed; return the run-time class path."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    tmp = CLASSES + ".tmp"
    subprocess.run(["rm", "-rf", tmp, CLASSES, stamp_file], check=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(srcs)} Scala sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"compilation failed (exit {r.returncode})")
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    print(build())
