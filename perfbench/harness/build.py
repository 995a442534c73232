"""Build file of the benchmark harness.

Compiles the program (``src/main/scala``) and the harness
(``perfbench/harness/*.scala``) with the Scala compiler that ships in
Spark's jar directory, so no ``build.sbt`` change and no dependency
download is needed, then lists ``SparkEntry``'s queries with their
oracle SQL (``queries.tsv``). The outputs go under the build directory
and are reused while no source changed.

    python3 perfbench/harness/build.py [build_dir]
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))

# Spark 4 on JDK 17 needs these outside spark-submit
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def spark_jars():
    """Spark's jar directory: ``$SPARK_HOME/jars``, else the directory
    ``build.sbt`` names as its ``unmanagedBase``."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt"), encoding="utf-8") as f:
                sbt = f.read()
        except OSError:
            sbt = ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            raise SystemExit("build: build.sbt names no unmanagedBase (set SPARK_HOME)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars under {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def java_opts():
    return [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]


def _sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "*.scala")))
    if not prog:
        raise SystemExit(f"build: no program sources under {ROOT}/src/main/scala")
    return prog, harness


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(out, classpath, sources, log):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", classpath] + sources
    with open(log, "ab") as f:
        rc = subprocess.call(cmd, stdout=f, stderr=subprocess.STDOUT)
    if rc != 0:
        raise SystemExit(f"build: scalac failed (exit {rc}); see {log}")


def build(build_dir):
    """Compile what changed; return the harness classpath."""
    prog, harness = _sources()
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    classes = os.path.join(build_dir, "classes")
    hclasses = os.path.join(build_dir, "harness-classes")
    stamp = os.path.join(build_dir, "stamp")
    want = _digest(prog) + "\n" + _digest(harness) + "\n"
    have = open(stamp).read() if os.path.exists(stamp) else ""
    if have.partition("\n")[0] != want.partition("\n")[0] or not os.path.isdir(classes):
        shutil.rmtree(classes, ignore_errors=True)
        shutil.rmtree(hclasses, ignore_errors=True)
        _scalac(classes, spark_jars(), prog, log)
        have = ""
    classpath = os.pathsep.join([hclasses, classes, spark_jars()])
    if have != want or not os.path.isdir(hclasses):
        shutil.rmtree(hclasses, ignore_errors=True)
        _scalac(hclasses, classes + os.pathsep + spark_jars(), harness, log)
        # the query list (module, name) and the oracle SQL
        with open(log, "ab") as f:
            rc = subprocess.call(["java"] + java_opts() + ["-cp", classpath,
                                  "perfbench.ListQueries",
                                  os.path.join(build_dir, "queries.tsv")],
                                 stdout=f, stderr=subprocess.STDOUT)
        if rc != 0:
            raise SystemExit(f"build: listing the queries failed; see {log}")
        with open(stamp, "w") as f:
            f.write(want)
    return classpath


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")))
