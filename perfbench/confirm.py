#!/usr/bin/env python3
"""Confirm the engine_ops fingerprints against the DuckDB oracle.

    python3 perfbench/confirm.py [--write]

Runs graft.Verify for the engine_ops queries on perfbench/data/sf0.01 (the
result parquet of each query plus oracle_sql.json), then tools/check.py on
that output, which compares each result with the query's SparkEntry.oracleSql
in DuckDB. perfbench.Confirm then computes each query's fingerprint from
Verify's parquet. With --write, and only if every query passed, the
fingerprints are stored in perfbench/data/fingerprints.txt, which the
benchmark checks each result against. Needs python3 with duckdb, pandas and
pyarrow.
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

QUERIES = ["q05_roleplay_join", "q96_containment", "q142_triangle_counts",
           "q146_kcore", "q148_label_prop"]


def main():
    env = dict(os.environ)
    env["SPARK_HOME"] = run.spark_home()
    env["PERFBENCH_TARGET"] = os.path.join(run.BUILD, "sbt")
    env.setdefault("COURSIER_MODE", "offline")
    classpath = run.build(env)
    sf = os.path.join(run.HERE, "data", "sf0.01")
    out = os.path.join(run.BUILD, "confirm")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = [java, "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    for p in run.ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += ["-cp", classpath]
    subprocess.run(jvm + ["graft.Verify", sf, out, ",".join(QUERIES)],
                   cwd=run.ROOT, env=env, check=True, stderr=subprocess.DEVNULL)
    subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"), sf, out],
                   cwd=run.ROOT, check=True)
    fps = subprocess.run(jvm + ["perfbench.Confirm", out] + QUERIES, cwd=run.ROOT, env=env,
                         check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True).stdout
    shutil.rmtree(tmp, ignore_errors=True)
    print(fps, end="")
    if "--write" in sys.argv:
        with open(os.path.join(run.HERE, "data", "fingerprints.txt"), "w") as f:
            f.write("# query rows order-insensitive-hash; confirmed against the DuckDB oracle"
                    " by perfbench/confirm.py\n")
            f.write(fps)
        print("wrote perfbench/data/fingerprints.txt")


if __name__ == "__main__":
    main()
