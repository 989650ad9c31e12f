#!/usr/bin/env python3
"""Benchmark driver for the graft Spark engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from `src/main/scala` and the benchmark's JVM driver
from `perfbench/src` (cached under `$CARGO_TARGET_DIR`, default
`.bench_build`), generates the workload's inputs from the seed, runs its
closed loop in one JVM (`graft.perfbench.Driver`), checks every job's
output, prints a report and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. Workloads, job lists, generator sizes and the per-layer metric map
live in `perfbench/workloads.json`. Exits non-zero on any failed or wrong job.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_linkage  # noqa: E402
import gen_tables  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

CONF = json.load(open(os.path.join(HERE, "workloads.json")))
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 165
HEAP = "2g"  # -Xms = -Xmx, so heap sizing does not move between runs


def spark_jars():
    """The Spark distribution's jars, which also hold the Scala compiler:
    `$SPARK_HOME/jars`, else the one beside `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        sys.exit("perfbench: set SPARK_HOME to a Spark 4.1 distribution")
    return os.path.join(home, "jars")


def scalac(classpath, out_dir, sources):
    os.makedirs(out_dir)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out_dir] + sources
    subprocess.run(cmd, check=True)


def build(root):
    """Compiles the engine and the driver once per source state."""
    main_src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench_src = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    digest = hashlib.sha256()
    for path in main_src + bench_src:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "perfbench-" + digest.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "ok")):
        shutil.rmtree(out, ignore_errors=True)
        jars = os.path.join(spark_jars(), "*")
        scalac(jars, os.path.join(out, "main"), main_src)
        scalac(os.path.join(out, "main") + os.pathsep + jars, os.path.join(out, "bench"), bench_src)
        open(os.path.join(out, "ok"), "w").close()
    return os.pathsep.join([os.path.join(out, "bench"), os.path.join(out, "main"),
                            os.path.join(spark_jars(), "*")])


def run_jvm(root, classpath, work, workload, data, seconds, trace, jobs):
    tmp = os.path.join(work, "tmp")
    cmd = (["java", "-XX:-UsePerfData"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}",
              f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
              "-cp", classpath, "graft.perfbench.Driver", workload, data,
              os.path.join(work, "out"), str(seconds), str(trace), ",".join(jobs)])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        # SPARK_LOCAL_DIRS would override spark.local.dir
        proc = subprocess.run(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT,
                              env=dict(os.environ, SPARK_LOCAL_DIRS=tmp), timeout=JVM_TIMEOUT_S)
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise RuntimeError(f"driver JVM exited with {proc.returncode}")
    with open(os.path.join(work, "out", "result.json")) as f:
        return json.load(f)


def check_linkage(result, truth):
    """Wrong jobs: every job fails if the pipeline's outputs disagree with
    the planted truth or the deduplicated Philips key is not unique."""
    actual = result["checks"]
    if "error" in actual:
        print(f"[check] linkage: {actual['error']}")
        return set(CONF["workloads"]["linkage"]["jobs"])
    wrong = [k for k in ("philips_rows", "icustays_rows", "cohort_rows", "chartevents_rows")
             if actual[k] != truth[k]]
    if not actual["philips_unique"]:
        wrong.append("philips_unique")
    if {k: int(v) for k, v in actual["n_entities"].items()} != truth["n_entities"]:
        wrong.append("n_entities")
    if {k: int(v) for k, v in actual["mortality"].items()} != truth["mortality"]:
        wrong.append("mortality")
    for k in wrong:
        print(f"[check] linkage {k}: got {actual.get(k)} want {truth.get(k)}")
    return set(CONF["workloads"]["linkage"]["jobs"]) if wrong else set()


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_oracle(result, data, out):
    """Wrong jobs: outputs that differ, order-insensitively, from the job's
    oracle SQL run by DuckDB over the same parquet tables."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for path in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    wrong = set()
    for job, error in sorted(result["checks"].items()):
        verdict = error
        if error is None:
            try:
                duck = canon(con.execute(result["oracle_sql"][job]).df())
                spark = canon(pd.concat(pd.read_parquet(p) for p in
                                        sorted(glob.glob(os.path.join(out, job, "*.parquet")))))
                if list(duck.columns) != list(spark.columns):
                    verdict = f"columns {list(spark.columns)} != {list(duck.columns)}"
                elif not duck.equals(spark):
                    verdict = f"{len(spark)} rows differ from the oracle's {len(duck)}"
            except Exception as e:  # a missing oracle or unreadable output is a wrong job
                verdict = f"{type(e).__name__}: {e}"
        if verdict is not None:
            print(f"[check] {job}: {verdict}")
            wrong.add(job)
    return wrong


def scratch_dirs(root, work):
    """Directories under the checkout's `target/tmp` and the run's
    java.io.tmpdir, where the engine puts its scratch stores."""
    dirs = [os.path.join(root, "target", "tmp"), os.path.join(work, "tmp")]
    return {os.path.join(d, n) for d in dirs if os.path.isdir(d) for n in os.listdir(d)
            if os.path.isdir(os.path.join(d, n))}


def end_to_end(result, setup_s, wrong, leaked):
    execs = result["execs"]
    per_iter = {}
    for e in execs:
        per_iter.setdefault(e["i"], {"cold": 0.0, "warm": 0.0})[e["kind"]] += e["s"]
    ops = [e["s"] for e in execs]
    tail, pct, beyond = stats.tail(ops)
    failed = sum(1 for e in execs if not e["ok"] or e["job"] in wrong)
    n_iter = len(per_iter)
    metrics = {
        "setup_s": (setup_s, "s", "1 setup"),
        "cold_p50_s": (stats.median([v["cold"] for v in per_iter.values()]), "s",
                       f"{n_iter} iterations"),
        "warm_p50_s": (stats.median([v["warm"] for v in per_iter.values()]), "s",
                       f"{n_iter} iterations"),
        "op_p50_s": (stats.median(ops), "s", f"{len(ops)} jobs"),
        "cpu_p50_s": (stats.median([it["cpu_s"] for it in result["iterations"]]), "s",
                      f"{len(result['iterations'])} iterations"),
        "peak_rss_mb": (result["peak_rss_kb"] / 1024.0, "MB", "VmHWM"),
    }
    report = dict(metrics)
    # printed, not declared: with few jobs per iteration the percentile
    # that keeps ten samples beyond it can fall at or below the median
    report["op_tail_s"] = (tail, "s", f"p{pct:.1f}, {len(ops)} jobs, {beyond} beyond")
    report["error_rate"] = (failed / len(execs), "ratio", f"{failed}/{len(execs)} jobs")
    report["leaked_dirs"] = (len(leaked), "count", ", ".join(
        sorted(os.path.basename(p) for p in leaked)) or "none")
    return metrics, report, len(execs), failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONF["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        sys.exit("perfbench: run from the root of a graft checkout (src/main/scala not found)")
    classpath = build(root)

    spec = CONF["workloads"][args.workload]
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    before = scratch_dirs(root, work)
    leaked = set()
    try:
        setup_start = time.time()
        data = os.path.join(work, "data")
        truth = None
        if spec["inputs"] == "linkage":
            truth = gen_linkage.generate(data, args.seed, **spec["generator"])
        else:
            gen_tables.generate(data, args.seed, **spec["generator"])
        jobs = random.Random(args.seed).sample(spec["jobs"], len(spec["jobs"]))
        result = run_jvm(root, classpath, work, args.workload, data, args.seconds,
                         args.trace, jobs)
        leaked = scratch_dirs(root, work) - before
        setup_s = result["first_timed_ms"] / 1000.0 - setup_start
        wrong = (check_linkage(result, truth) if truth is not None
                 else check_oracle(result, data, os.path.join(work, "out")))
        e2e, report, attempted, failed = end_to_end(result, setup_s, wrong, leaked)
        print(f"[perfbench] workload={args.workload} seed={args.seed} order={','.join(jobs)}")
        for name, (value, unit, note) in report.items():
            print(f"[e2e] {args.workload} {name} = {value:.6g} {unit} ({note})")
        if args.trace:
            metrics = layers.report(args.workload, result, CONF)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
        correct = failed == 0 and not wrong
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        for path in leaked:
            shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".bench_work"))
        except OSError:
            pass


if __name__ == "__main__":
    main()
