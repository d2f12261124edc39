"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload registry|mr_sql|mr_api --seed N \
        --seconds S --trace 0|1 [--size bench|smoke] [--queries sample|all]

The first run in a checkout compiles the program and the harness
(perfbench/build.py). Everything a run reads or writes besides the
sources and the JDK/Spark installation stays under `.bench_build/`:
classes, the generated corpus, the warehouse with the program's
one-time renders, committed outputs, Spark's scratch space, stderr
logs, traced spans and the JVM's class-data archives. The paths are
the same in every run, so renders that the program caches on disk are
reused from the second run on.

With --trace 0 the result holds the end-to-end metrics, with --trace 1
the per-layer ones (see perfbench/README.md).
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("registry", "mr_sql", "mr_api")
WORK = os.path.join(build.BUILD_DIR, "work")
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def jvm_command(classpath, work, main_args, extra=()):
    """The benchmark JVM's command line, with its scratch paths under `work`."""
    here = os.path.dirname(os.path.abspath(__file__))
    for d in ("tmp", "logs"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # A fixed heap keeps peak RSS comparable between runs. Lower JIT
    # thresholds shorten the warm-up of a JVM that lives about a minute.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.2"]
    cmd += list(extra)
    # JVM warnings go to stderr: stdout carries only the result
    cmd += ["-Xlog:disable", "-Xlog:all=warning:stderr"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={os.path.abspath(os.path.join(work, 'tmp'))}",
        f"-Dspark.local.dir={os.path.abspath(os.path.join(work, 'spark-local'))}",
        f"-Dspark.sql.warehouse.dir={os.path.abspath(os.path.join(work, 'warehouse'))}",
        f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
    ]
    return cmd + list(main_args) + ["--data", os.path.join(here, "data"), "--work", work]


def run_jvm(cmd, log, timeout):
    """Run a JVM with its stderr in `log`; returns (exit code, stdout), or
    (None, "") if it timed out. The JVM is stopped and waited for on
    every path out, SIGTERM included."""
    with open(log, "w") as err:
        jvm = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = jvm.communicate(timeout=timeout)
            return jvm.returncode, out
        except subprocess.TimeoutExpired:
            return None, ""
        finally:
            if jvm.poll() is None:
                jvm.kill()
                jvm.wait()


def class_archive(classpath):
    """JVM flags that map the class-data archive (AppCDS) of `classpath`.

    Without one, starting Spark and the cold checking pass spend several
    seconds loading and verifying classes from the jars, in every run.
    The archive holds those classes ready to map. It is made once per
    classpath, by a short untimed registry run at the smoke size in a
    work directory of its own, and serves every workload: classes it
    lacks load from the jars as usual. It is keyed on the path, size and
    modification time of every jar, as the JVM checks them. If it cannot
    be made, a marker beside it says so, and runs go without it rather
    than try again each time.
    """
    h = hashlib.sha256()
    for p in classpath.split(os.pathsep):
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    cds = os.path.join(build.BUILD_DIR, "cds")
    path = os.path.abspath(os.path.join(cds, f"classes-{h.hexdigest()[:16]}.jsa"))
    failed = path + ".failed"
    if os.path.isfile(failed):
        return []
    if not os.path.isfile(path):
        work = os.path.join(cds, "work")
        partial = path + ".partial"
        cmd = jvm_command(classpath, work, [
            "--workload", "registry", "--seed", "1", "--seconds", "1", "--trace", "0",
            "--size", "smoke"], extra=[f"-XX:ArchiveClassesAtExit={partial}"])
        code, _ = run_jvm(cmd, os.path.join(work, "logs", "archive.err"), JVM_TIMEOUT_S)
        if code != 0 or not os.path.isfile(partial):
            if os.path.exists(partial):
                os.remove(partial)
            open(failed, "w").close()
            print("perfbench: no class-data archive; running without", file=sys.stderr)
            return []
        os.replace(partial, path)
    return [f"-XX:SharedArchiveFile={path}"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "smoke"), default="bench")
    ap.add_argument("--queries", choices=("sample", "all"), default="sample")
    a = ap.parse_args()

    # on SIGTERM, still stop the JVM and wait for it (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    archive = class_archive(classpath)

    cmd = jvm_command(classpath, WORK, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--size", a.size, "--queries", a.queries], extra=archive)
    log = os.path.join(WORK, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.err")
    code, out = run_jvm(cmd, log, None if a.queries == "all" else JVM_TIMEOUT_S)
    if code is None:
        fail(f"timed out after {JVM_TIMEOUT_S} s (stderr in {log})")
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"benchmark JVM exited with {code} (stderr in {log})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or result["attempted"] < 1:
        fail(f"malformed result line: {lines[-1]}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
