#!/usr/bin/env python3
"""Benchmark command. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Builds the library plus the benchmark from source with sbt (once per source
state; the classpath is cached under .bench_build), then runs one workload
in a fresh JVM and prints the result JSON as the last line of stdout.
Everything it writes stays under .bench_build in the checkout.

Each correct untraced run records its batch_s. A traced run prices the
tracer against the median of the records of its workload, and first makes
an untraced run of its own seed when the workload has no record yet.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["star_weekly", "engine_ops"]
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dp, _, fns in os.walk(r):
            files += [os.path.join(dp, f) for f in fns]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def build(env):
    """Compile with sbt unless the cached classpath matches the sources."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode})")
    cps = [l.strip() for l in lines if "scala-library" in l and os.pathsep in l
           and not l.startswith("[")]
    if not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("could not read the classpath from sbt")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(want)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the library sources (src/main/scala/graft) are not in this checkout")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["PERFBENCH_TARGET"] = os.path.join(BUILD, "sbt")
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    classpath = build(env)

    deadline = time.time() + RUN_LIMIT_S
    if a.trace == "1":
        # The tracing overhead is priced against untraced runs of the same
        # workload at the same batch positions, each in a fresh JVM: the
        # median of the recorded runs, else an untraced run of this seed
        # made first.
        untraced = recorded_median(a.workload)
        if untraced is None:
            run_jvm(a, "0", classpath, env, deadline)
            untraced = recorded_median(a.workload)
        if untraced is None:
            fail("the untraced run reported no batch_s")
        res = run_jvm(a, "1", classpath, env, deadline, untraced)
    else:
        res = run_jvm(a, "0", classpath, env, deadline)
    print(json.dumps(res))


def record_file(workload, seed):
    # keyed by the source state, so a record never outlives the code it timed
    return os.path.join(BUILD, "untraced", stamp()[:16], f"{workload}-seed{seed}.json")


def recorded_median(workload):
    d = os.path.dirname(record_file(workload, 0))
    if not os.path.isdir(d):
        return None
    vals = []
    for f in sorted(os.listdir(d)):
        if f.startswith(workload + "-seed"):
            with open(os.path.join(d, f)) as fh:
                vals.append(json.load(fh)["batch_s"])
    return statistics.median(vals) if vals else None


def run_jvm(a, trace, classpath, env, deadline, untraced=None):
    """One benchmark JVM; returns its result. A correct untraced result's
    batch_s is recorded for later traced runs of the same seed."""
    run_dir = os.path.join(BUILD, "run")
    os.makedirs(run_dir, exist_ok=True)
    tag = f"{a.workload}-{a.seed}-{trace}-{os.getpid()}"
    result = os.path.join(run_dir, f"result-{tag}.json")
    work = os.path.join(run_dir, f"work-{tag}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", trace, "--work", os.path.join(work, "w"), "--result", result,
            "--trace-out", os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}.json"),
            "--data", os.path.join(HERE, "data")]
    if untraced is not None:
        cmd += ["--untraced-batch-s", repr(untraced)]
    log = os.path.join(run_dir, f"jvm-{a.workload}-trace{trace}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_LIMIT_S} s (JVM log: {log})")
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with {proc.returncode} and no result")
    with open(result) as f:
        res = json.load(f)
    os.remove(result)
    if trace == "0" and res["correct"] and res["failed"] == 0:
        os.makedirs(os.path.dirname(record_file(a.workload, a.seed)), exist_ok=True)
        with open(record_file(a.workload, a.seed), "w") as f:
            json.dump({"batch_s": res["metrics"]["batch_s"]["value"]}, f)
    return res


if __name__ == "__main__":
    main()
