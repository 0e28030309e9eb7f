#!/usr/bin/env python3
"""Benchmark of the graft gateway and catalog: one workload per run.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Builds the repository's main sources together with the harness under
perfbench/src/main with the Scala compiler that ships with Spark
(rebuilt only when a source changes), runs the workload in one JVM
and prints its notes followed by one JSON result line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
the per-layer metrics. See perfbench/NOTES.md.

    python3 perfbench/run.py --test     # the harness's own tests (sbt)
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "state_read", "catalog")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, base, "perfbench")


def source_files():
    """Main sources of the repository and of the harness."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
    files = []
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def spark_home():
    """The Spark installation to compile and run against: SPARK_HOME,
    else the first spark-submit on PATH that sits in an installation
    (a pip-installed pyspark puts a bare launcher script on PATH), else
    the pyspark package, which carries the same jars."""
    candidates = [os.environ.get("SPARK_HOME")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            candidates.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    spec = importlib.util.find_spec("pyspark")
    if spec is not None and spec.origin:
        candidates.append(os.path.dirname(spec.origin))
    for home in candidates:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-2.13.*.jar")):
            return home
    die("no Spark installation with Scala 2.13 jars: set SPARK_HOME", 1)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sbt_env():
    """Environment of the harness's own tests (sbt, offline)."""
    env = os.environ.copy()
    env["COURSIER_MODE"] = "offline"
    env["SPARK_HOME"] = spark_home()
    if not env.get("SBT_OPTS"):
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the repository's main sources with the harness, using the
    Scala compiler that ships with Spark, unless the sources are
    unchanged; returns the runtime classpath. Everything the build
    writes stays in the build directory."""
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    jars = sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar")))
    compiler = [j for j in jars if re.search(r"/scala-(compiler|reflect|library)-2\.13\.[0-9]+\.jar$", j)]
    if len(compiler) != 3:
        die("the Spark installation has no Scala 2.13 compiler jars", 1)
    sources = source_files()
    h = hashlib.sha256()
    for f in sources + compiler:
        h.update(os.path.relpath(f, ROOT).encode())
    for f in sources:
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    classes = os.path.join(out, "classes")
    cp = os.pathsep.join([classes] + jars)
    if os.path.exists(stamp_file) and os.path.isdir(classes):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return cp
    fresh = classes + ".new"
    tmp = os.path.join(out, "tmp")
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(
                [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
                 "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "-nowarn",
                 "-d", fresh, "-classpath", os.pathsep.join(jars), "@" + argfile],
                stdout=lf, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die("build timed out", 1)
    if p.returncode != 0:
        die("build failed, see " + log, 1)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def expected_names(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run(args):
    cp = build()
    run_dir = os.path.join(build_dir(), "run-%d" % os.getpid())
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + os.path.join(run_dir, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
        "-Dderby.system.home=" + os.path.join(run_dir, "derby"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", os.path.join(run_dir, "work"),
        "--spans", os.path.join(build_dir(), "spans-%s.jsonl" % args.workload),
        "--expected", os.path.join(HERE, "expected", "catalog.json"),
    ]
    if args.record_expected:
        cmd += ["--record-expected", os.path.abspath(args.record_expected)]
    # SIGTERM unwinds like Ctrl-C, so the JVM never outlives this script
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("run timed out", 1)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        die("run failed (exit %d)" % proc.returncode, 1)
    result = json.loads(lines[-1])
    names = expected_names(args.trace == 1)
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        die("malformed result line", 1)
    if names is not None and list(result["metrics"]) != names:
        die("metrics differ from BENCHMARK.json", 1)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", help="catalog: write expected outputs to this file")
    ap.add_argument("--test", action="store_true", help="run the harness's own tests")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the repository sources are not next to the benchmark (no src/main/scala/graft)")
    if args.test:
        sys.exit(subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                                cwd=HERE, env=sbt_env()).returncode)
    if not args.workload:
        die("--workload is required")
    run(args)


if __name__ == "__main__":
    main()
