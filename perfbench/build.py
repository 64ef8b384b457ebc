"""Build file of the benchmark: compiles the engine's sources and the harness.

The engine (`src/main/scala`, plus `src/main/resources`) and the harness (`perfbench/src`) compile
together with the Scala compiler that ships among the Spark jars the project
builds against: `$SPARK_HOME/jars`, else the `unmanagedBase` named in the
root `build.sbt`. Classes go to `.bench_build/perfbench/classes-<digest>`,
keyed by a digest of every source, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py        # prints the classes directory
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no SPARK_HOME and no build.sbt to locate the Spark jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase")
    return m.group(1)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    if not harness:
        raise BuildError("no harness sources under perfbench/src")
    return engine + harness


def resources():
    base = os.path.join(ROOT, "src", "main", "resources")
    return sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(p)), base


def classpath(jars_dir):
    return sorted(glob.glob(os.path.join(jars_dir, "*.jar")))


def build():
    """Compile if needed; returns (classes dir, runtime classpath list)."""
    jars_dir = spark_jars()
    jars = classpath(jars_dir)
    srcs = sources()
    res, res_base = resources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out, jars
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError("the Scala compiler, library and reflect jars are not among the Spark jars")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars)] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    for p in res:  # service registrations (the `mysql-binlog` short name)
        dst = os.path.join(tmp, os.path.relpath(p, res_base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(tmp, ".complete"), "w").close()
    # drop stale builds of other source trees, then publish this one
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
