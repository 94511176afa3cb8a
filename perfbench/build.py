"""Builds the engine and the benchmark harness from source with scalac.

The engine's sources (``src/main/scala``) and the harness's
(``perfbench/src``) compile together into one class directory. The Scala
version, the Spark jar directory and the JVM's ``--add-opens`` list come
from the engine's own ``build.sbt``, so the benchmark compiles and runs the
engine against the classpath its sbt build uses. A stamp of every source
file's path, size and mtime skips the build when nothing changed.

Usage: python3 perfbench/build.py [build dir]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def sbt_settings():
    """``(scala version, Spark jar dir, [--add-opens module])`` as
    ``build.sbt`` sets them."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        raise SystemExit(f"no engine build file at {path}")
    with open(path) as f:
        text = f.read()
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    opens = re.search(r'val jdk17AddOpens = Seq\((.*?)\)', text, re.S)
    if not (version and jars and opens):
        raise SystemExit("build.sbt no longer sets scalaVersion, unmanagedBase "
                         "and jdk17AddOpens the way this script reads them")
    return version.group(1), jars.group(1), re.findall(r'"([^"]+)"', opens.group(1))


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(engine, "graft", "SparkEntry.scala")):
        raise SystemExit(f"engine sources missing under {engine}")
    found = []
    for base in (engine, os.path.join(ROOT, "perfbench", "src")):
        for dp, _, fs in os.walk(base):
            found += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(found)


def build(build_dir):
    """Compile if the sources changed; return the runtime classpath."""
    classes = os.path.join(build_dir, "classes")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        st = os.stat(s)
        h.update(f"{s}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp_path = os.path.join(build_dir, "classes.stamp")
    stamp = h.hexdigest()
    scala, jar_dir, _ = sbt_settings()
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {jar_dir}")
    cp = os.pathsep.join([classes] + jars)
    if os.path.isfile(stamp_path) and open(stamp_path).read() == stamp:
        return cp
    if os.path.exists(stamp_path):
        os.remove(stamp_path)
    if os.path.isdir(classes):
        shutil.rmtree(classes)
    os.makedirs(classes)
    compiler = [os.path.join(jar_dir, f"scala-{m}-{scala}.jar")
                for m in ("compiler", "library", "reflect")]
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4",
           "-classpath", os.pathsep.join(jars), "-d", classes, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"scalac failed with exit code {r.returncode}")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")))
