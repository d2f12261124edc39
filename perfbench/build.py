"""Build file of the benchmark: compiles the program and the harness.

The program (`src/main/scala`) and the harness (`perfbench/src`) are
compiled with the Scala 2.13 compiler that ships in the Spark
distribution's jar directory, against the Spark jars there, so the
benchmark needs neither sbt nor a dependency cache. The jar directory
is `$SPARK_HOME/jars`, or else the `unmanagedBase` of `build.sbt`.
Classes land in the jars `.bench_build/classes/{program,harness}.jar`
under the current directory and are rebuilt only when a source file
changes (a content fingerprint is stored beside them). They are jars,
not directories, because the JVM's class-data archive (see run.py)
covers classes from jars only.

Usage: python3 perfbench/build.py      (prints the harness classpath)
"""

import glob
import hashlib
import os
import re
import subprocess
import sys

SCALA_VERSION = "2.13.17"
BUILD_DIR = ".bench_build"
PROGRAM_SRC = "src/main/scala"
HARNESS_SRC = "perfbench/src"


class BuildError(Exception):
    pass


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _fingerprint(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    if os.path.isfile("build.sbt"):
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def _scalac(sources, classpath, out_jar):
    jars = [os.path.join(spark_jars(), f"scala-{m}-{SCALA_VERSION}.jar")
            for m in ("compiler", "library", "reflect")]
    missing = [j for j in jars if not os.path.isfile(j)]
    if missing:
        raise BuildError(f"Scala compiler jars not found: {missing}")
    os.makedirs(os.path.dirname(out_jar), exist_ok=True)
    if os.path.exists(out_jar):
        os.remove(out_jar)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", classpath, "-d", out_jar] + sources
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        if os.path.exists(out_jar):
            os.remove(out_jar)
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])


def _build_one(name, sources, classpath, extra_key):
    out_jar = os.path.join(BUILD_DIR, "classes", name + ".jar")
    stamp = os.path.join(BUILD_DIR, "classes", name + ".fingerprint")
    fp = _fingerprint(sources, extra_key)
    if os.path.isfile(out_jar) and os.path.isfile(stamp):
        with open(stamp) as fh:
            if fh.read() == fp:
                return out_jar, fp
    _scalac(sources, classpath, out_jar)
    with open(stamp, "w") as fh:
        fh.write(fp)
    return out_jar, fp


def build():
    """Compile what changed; return the classpath the harness runs with."""
    program = _sources(PROGRAM_SRC)
    harness = _sources(HARNESS_SRC)
    if not program:
        raise BuildError(f"no program sources under {PROGRAM_SRC}/")
    if not harness:
        raise BuildError(f"no harness sources under {HARNESS_SRC}/")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars not found at {jars}")
    # listed in a fixed order, so that the classpath reads the same in
    # every run and the class-data archive made for it stays valid
    spark_cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    prog_jar, prog_fp = _build_one("program", program, spark_cp, "")
    harness_cp = os.pathsep.join([prog_jar, spark_cp])
    harness_jar, _ = _build_one("harness", harness, harness_cp, prog_fp)
    return os.pathsep.join([harness_jar, prog_jar, spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
