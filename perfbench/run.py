#!/usr/bin/env python3
"""Build graft and the benchmark from source, run one workload, relay its result.

    python3 perfbench/run.py --workload oltp_bolt --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles `src/main/scala` and
`perfbench/src/main/scala` with the Scala compiler that ships in Spark's jars
(found through SPARK_HOME, or the `spark-submit` on PATH) into a jar under
`perfbench/.build`, then makes one short training run that dumps the classes
it loaded into a class-data-sharing archive beside the jar; every measured
run maps that archive instead of loading Spark's classes one by one. Later
runs reuse the build while the sources are unchanged. The benchmark JVM
writes only under `perfbench/` (`.work` while it runs, `out` for reports and
spans). The last line of standard output is the result JSON; nothing is
printed on it when the build or the run fails.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("oltp_bolt", "analytics_gds", "ingest_http")
RUN_TIMEOUT_S = 170
JAR = os.path.join(BUILD, "graft-perfbench.jar")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
# the training run: the workload whose set-up touches the most layers
# (data generation, graph build, snapshot save and load, Bolt); it is
# part of the build, which may take longer than a measured run
TRAIN = ["--workload", "oltp_bolt", "--seed", "0", "--seconds", "1", "--trace", "0"]
TRAIN_TIMEOUT_S = 600
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        fail("no Spark installation found: set SPARK_HOME")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Scala compiler among {jars}")
    return jars


def sources():
    trees = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
    missing = [t for t in trees if not os.path.isdir(t)]
    if missing:
        fail(f"source tree missing: {', '.join(missing)}")
    files = []
    for t in trees:
        files += glob.glob(os.path.join(t, "**", "*.scala"), recursive=True)
        files += glob.glob(os.path.join(t, "**", "*.java"), recursive=True)
    return sorted(files)


def java_cmd(jars, args, jvm_opts=()):
    """The benchmark JVM's command line for `graft.perfbench.Main args`."""
    tmp = os.path.join(HERE, ".work", "tmp")
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            ["-Xmx2g", f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.dir={HERE}",
             f"-Dperfbench.launchMs={int(time.time() * 1000)}",
             # JVM warnings go to stderr: stdout carries only the results
             "-Xlog:disable", "-Xlog:all=warning:stderr"] + list(jvm_opts) +
            ["-cp", os.pathsep.join([JAR, os.path.join(jars, "*")]), "graft.perfbench.Main"] + args)


def run_jvm(cmd, timeout):
    """Run the benchmark JVM; return (exit code, stdout). Kills it on timeout."""
    tmp = os.path.join(HERE, ".work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {timeout} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return proc.returncode, out


def build(jars):
    """Compile, jar and train when the sources differ from the last build."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", cp, "@" + argfile]
    t0 = time.time()
    # compiler output goes to stderr: stdout carries only the results
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        shutil.rmtree(BUILD, ignore_errors=True)
        fail("build failed")
    # class-data sharing archives classes from jars only, not directories
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    shutil.rmtree(classes)
    print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    t0 = time.time()
    code, _ = run_jvm(java_cmd(jars, TRAIN, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]), TRAIN_TIMEOUT_S)
    if code != 0 or not os.path.exists(ARCHIVE):
        shutil.rmtree(BUILD, ignore_errors=True)
        fail(f"training run exited with code {code}")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    print(f"perfbench: trained in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    jars = spark_jars()
    build(jars)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace]
    code, out = run_jvm(java_cmd(jars, args, [f"-XX:SharedArchiveFile={ARCHIVE}"]), RUN_TIMEOUT_S)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        fail(f"benchmark exited with code {code} and no result")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
