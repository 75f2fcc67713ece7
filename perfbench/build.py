"""Builds the program and the benchmark harness into one jar.

Compiles `src/main/scala` and `perfbench/src` with the Scala compiler that
ships in the Spark distribution's jars, so the build needs neither sbt nor
network access. The jar is reused while no source file changes.

    python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory build.sbt compiles against
    (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
    return m.group(1)


def sources():
    program = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                        recursive=True)
    harness = glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    return sorted(program) + sorted(harness)


def classpath(jar):
    """The jar and every Spark jar, listed one by one: the JVM's class-data
    sharing archive accepts neither wildcards nor directories."""
    spark = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    return os.pathsep.join([jar] + spark)


def build(build_dir, timeout=840):
    """Returns the jar, compiling first if any source changed."""
    srcs = sources()
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit(f"no program sources under {ROOT}/src/main/scala")
    cp = os.path.join(spark_jars(), "*")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    jar = os.path.join(build_dir, "app.jar")
    stamp_file = jar + ".stamp"
    if os.path.isfile(jar) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return jar
    tmp = os.path.join(build_dir, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
            stdout=out, stderr=subprocess.STDOUT, timeout=timeout)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"compile failed (exit {rc}); see {log}")
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for d, _, files in os.walk(tmp):
            for name in sorted(files):
                path = os.path.join(d, name)
                z.write(path, os.path.relpath(path, tmp))
    shutil.rmtree(tmp, ignore_errors=True)
    os.replace(jar + ".tmp", jar)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar


if __name__ == "__main__":
    d = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                        os.path.join(ROOT, ".bench_build"))
    os.makedirs(d, exist_ok=True)
    print(build(d))
