"""Build step of the benchmark: compiles the program (``src/main/scala``
and its resources) together with the benchmark's JVM driver
(``cdcbench/src``) into one class directory, with the same Scala
compiler and Spark jars the program's ``build.sbt`` uses.

The output goes to ``cdcbench/.build`` and is reused while no source,
resource or jar changes. Run directly to build: ``python3 cdcbench/build.py``.
"""

import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def jar_dir():
    """The Spark jar directory: ``$SPARK_HOME/jars``, else the
    ``unmanagedBase`` the program's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME or keep unmanagedBase in build.sbt")


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        out.extend(os.path.join(d, n) for n in names if suffix is None or n.endswith(suffix))
    return sorted(out)


def check_sources():
    """The program's sources must sit next to the benchmark."""
    marker = os.path.join(PROGRAM_SRC, "graft", "sink", "MergeSink.scala")
    if not os.path.isfile(marker):
        raise BuildError("program sources not found under %s" % PROGRAM_SRC)


def classpath():
    """Compile if needed; return the run-time classpath string."""
    check_sources()
    jars = jar_dir()
    sources = _files(PROGRAM_SRC, ".scala") + _files(BENCH_SRC, ".scala")
    resources = _files(PROGRAM_RES) if os.path.isdir(PROGRAM_RES) else []
    h = hashlib.sha256()
    for p in sources + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(OUT, "stamp")
        if os.path.isdir(classes) and os.path.isfile(stamp_file) \
                and open(stamp_file).read() == stamp:
            return cp
        tmp = os.path.join(OUT, "classes.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(sources))
        jcp = os.path.join(jars, "*")
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jcp,
               "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", jcp,
               "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           universal_newlines=True)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        for p in resources:
            dst = os.path.join(tmp, os.path.relpath(p, PROGRAM_RES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(classpath())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
