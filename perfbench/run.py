#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s> --trace 0

Run from the root of a checkout of the repository. The first call builds the
engine and the benchmark from source with sbt (offline) into
$CARGO_TARGET_DIR (default .bench_build) and writes the fixture tables there;
later calls reuse both while the sources are unchanged. Each call then starts
one JVM that sets up, measures for --seconds and prints one JSON result as
the last line of stdout. `--workload all` runs every workload once and prints
a table of the end-to-end metrics, each with its unit and the output-check
verdict.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = {"queries": "queries", "etl_bulk": "etl"}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark installation: $SPARK_HOME, else the one spark-submit on PATH is in."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def sources(root):
    """Every file the build reads, sorted, so their hash names the build."""
    out = []
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files]
    out += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(root, build_dir):
    """Compile with sbt unless the classes of these exact sources exist."""
    stamp = os.path.join(build_dir, "classes.stamp")
    key = digest(sources(root))
    classes = os.path.join(build_dir, "perfbench-target", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.isdir(classes):
        return classes
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM the sbt script starts keeps its scratch under the build dir
    env = dict(os.environ, COURSIER_MODE="offline", CARGO_TARGET_DIR=build_dir,
               SPARK_HOME=spark_home(),
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Dsbt.boot.lock=false "
                        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                        " -Xmx2g")
    # own process group, so a timeout also stops the JVM the sbt script starts
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                            env=env, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"build did not finish within {BUILD_TIMEOUT_S} s")
    if proc.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(key)
    return classes


def java_cmd(build_dir, classes, main_args):
    return (["java", "-Xms2g", "-Xmx2g", "-XX:CompileThresholdScaling=0.5",
             "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Djava.io.tmpdir=" + os.path.join(build_dir, "tmp"),
             "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", classes + os.pathsep + os.path.join(spark_home(), "jars", "*"),
               "perfbench.Main"] + main_args)


def prepare(build_dir, classes):
    """Write the fixture tables once per generator version."""
    gen = digest([os.path.join(HERE, "src", "main", "scala", "perfbench", "Gen.scala")])
    data = os.path.join(build_dir, "data-" + gen)
    if not os.path.exists(os.path.join(data, ".done")):
        shutil.rmtree(data, ignore_errors=True)
        r = subprocess.run(java_cmd(build_dir, classes, ["--prepare", "--data", data]),
                           stdout=sys.stderr, stderr=sys.stderr, timeout=JVM_TIMEOUT_S)
        if r.returncode != 0:
            fail("fixture generation failed")
        open(os.path.join(data, ".done"), "w").close()
    return data


def run_one(build_dir, classes, data, workload, seed, seconds, trace, record=None):
    work = os.path.join(build_dir, f"work-{os.getpid()}-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    args = ["--workload", WORKLOADS[workload], "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", data, "--work", work,
            "--expected", os.path.join(HERE, "expected.tsv")]
    if record:
        args += ["--record", os.path.abspath(record)]
    proc = subprocess.Popen(java_cmd(build_dir, classes, args), stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{workload}: no result within {JVM_TIMEOUT_S} s")
    finally:
        if trace:  # keep the span file next to the build, drop the rest
            for f in os.listdir(work) if os.path.isdir(work) else []:
                if f.startswith("trace-"):
                    os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
                    dst = os.path.join(build_dir, "traces", f)
                    shutil.move(os.path.join(work, f), dst)
                    print(f"perfbench: spans in {dst}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"{workload}: benchmark exited with {proc.returncode}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write the observed output digests to this file")
    a = ap.parse_args()
    if a.workload != "all" and a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; expected one of {', '.join(WORKLOADS)} or all")
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(root, build_dir)
    data = prepare(build_dir, classes)
    if a.workload != "all":
        print(json.dumps(run_one(build_dir, classes, data, a.workload, a.seed, a.seconds,
                                 a.trace, a.record)))
        return
    results = {}
    for w in WORKLOADS:
        t0 = time.time()
        r = results[w] = run_one(build_dir, classes, data, w, a.seed, a.seconds, a.trace)
        verdict = "correct" if r["correct"] else "WRONG"
        print(f"{w}: {verdict}, {r['failed']}/{r['attempted']} ops failed, "
              f"{time.time() - t0:.0f} s wall")
        for k, m in r["metrics"].items():
            print(f"  {k:28s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps(results))


if __name__ == "__main__":
    main()
