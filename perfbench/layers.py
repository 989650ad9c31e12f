"""Per-layer metrics from a traced run's spans and counters.

Counters are summed over the spans of one traced iteration that descend
from a benchmark job (the `cli` stage spans feed only the `cli.*` self
times). Each metric's value is the median over traced iterations.
"""
import stats

# Each forced `cli` stage recomputes these upstream stages, so its self
# time is its span minus theirs.
CLI_INPUTS = {
    "clean_icnarc_ids": [], "clean_philips": [], "parse_cmp": [],
    "dedup_encounters": ["clean_philips"],
    "join_icustays": ["clean_icnarc_ids", "dedup_encounters"],
    "derive_clinical": ["join_icustays", "parse_cmp"],
    "build_chartevents": ["derive_clinical"],
    "reports": ["build_chartevents", "derive_clinical"],
}


def _seconds(span):
    return (span["end"] - span["start"]) / 1000.0


def _roots(spans):
    by_id = {s["id"]: s for s in spans}
    roots = {}
    for s in spans:
        r = s
        while r["parent"] in by_id:
            r = by_id[r["parent"]]
        roots[s["id"]] = r
    return roots


def iteration_metrics(spans, execs, i):
    mine = [s for s in spans if s["i"] == i]
    roots = _roots(mine)
    under_jobs = [s for s in mine if roots[s["id"]]["kind"] == "job"]
    kind = {k: [s for s in under_jobs if s["kind"] == k]
            for k in ("job", "sql", "spark_job", "stage", "batch")}
    children = {}
    for s in mine:
        children.setdefault(s["parent"], []).append(s)

    def total(k, key, scale=1.0):
        return sum(s["counters"].get(key, 0.0) for s in kind[k]) * scale

    m = {}
    cli = {s["name"][len("cli."):]: _seconds(s) for s in mine if s["kind"] == "cli"}
    for stage, inputs in CLI_INPUTS.items():
        m[f"cli.{stage}.self_s"] = (cli[stage] - sum(cli[x] for x in inputs)
                                    if stage in cli else 0.0)
    # plan-level counters (SQLMetrics, planning phases) sit on the job spans
    join_rows = total("job", "join_rows_out")
    batch_s = [_seconds(s) for s in kind["batch"]]
    timed = [e for e in execs if e["i"] == i]
    m.update({
        "sources.scan_bytes": total("job", "scan_bytes"),
        "sources.scan_rows": total("job", "scan_rows"),
        "sources.scan_files": total("job", "scan_files"),
        "operators.shuffle_bytes": total("spark_job", "shuffle_bytes"),
        "operators.shuffle_records": total("spark_job", "shuffle_records"),
        "operators.spill_bytes": total("spark_job", "spill_bytes"),
        "operators.join_rows_out": join_rows,
        "operators.join_yield": total("job", "result_rows") / join_rows if join_rows else 0.0,
        "plans.planning_s": total("job", "planning_ms", 1e-3),
        "plans.codegen_compiles": total("job", "codegen_compiles"),
        "streaming.batches": float(len(batch_s)),
        "streaming.batch_p50_s": stats.median(batch_s),
        "streaming.shuffle_partitions": max(
            [s["counters"].get("shuffle_partitions", 0.0) for s in kind["batch"]], default=0.0),
        "streaming.state_rows": total("batch", "state_rows"),
        "streaming.state_bytes": total("batch", "state_bytes"),
        "fixtures.build_s": sum(e["s"] if e["kind"] == "cold" else -e["s"] for e in timed),
        "fixtures.cached_bytes": sum(s["counters"].get("cached_bytes", 0.0)
                                     for s in kind["job"] if s["name"].endswith(" warm")),
        "spark.jobs": float(len(kind["spark_job"])),
        "spark.stages": float(len(kind["stage"])),
        "spark.tasks": total("spark_job", "tasks"),
        "spark.task_wait_s": total("spark_job", "task_wait_ms", 1e-3),
        "spark.driver_s": sum(stats.self_time(
            (j["start"], j["end"]), [(c["start"], c["end"]) for c in children.get(j["id"], [])
                                     if c["kind"] == "stage"]) for j in kind["spark_job"]) / 1000.0,
        "spark.task_cpu_s": total("spark_job", "task_cpu_ns", 1e-9),
        "spark.gc_s": total("spark_job", "gc_ms", 1e-3),
    })
    # self time of every span kind: its duration minus what its children cover
    self_s = {}
    for s in under_jobs:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        self_s[s["kind"]] = self_s.get(s["kind"], 0.0) + stats.self_time(
            (s["start"], s["end"]), kids) / 1000.0
    # driver work inside a benchmark job that no SQL execution, Spark job
    # or stream batch covers, such as building and analysing DataFrames
    m["plans.outside_sql_s"] = self_s.get("job", 0.0)
    return m, self_s


def report(workload, result, conf):
    """Prints every per-layer metric per traced iteration and returns the
    medians in the result line's `metrics` form."""
    spans, execs, traced = result["spans"], result["execs"], result["traced_iterations"]
    per_iter, self_times = {}, {}
    for i in traced:
        per_iter[i], self_times[i] = iteration_metrics(spans, execs, i)
    wall = {it["i"]: (it["end_ms"] - it["start_ms"]) / 1000.0 for it in result["iterations"]}
    on = [wall[i] for i in traced]
    off = [w for i, w in wall.items() if i not in traced]
    overhead = stats.median(on) / stats.median(off) - 1.0 if on and off else 0.0
    print(f"[layer] {workload} traced iterations {traced}; untraced {sorted(set(wall) - set(traced))}")
    metrics = {}
    for name, spec in conf["layers"].items():
        if name == "trace_overhead":
            value = overhead
            note = f"traced p50 {stats.median(on):.3f} s vs untraced p50 {stats.median(off):.3f} s"
        else:
            values = [per_iter[i][name] for i in traced]
            value = stats.median(values)
            note = " ".join(f"i{i}={v:.6g}" for i, v in zip(traced, values))
        metrics[name] = {"value": value, "unit": spec["unit"]}
        print(f"[layer] {workload} {name} = {value:.6g} {spec['unit']} ({note})")
    for kind in ("job", "sql", "spark_job", "stage", "batch"):
        values = [self_times[i].get(kind, 0.0) for i in traced]
        print(f"[layer] {workload} self.{kind}_s = {stats.median(values):.6g} s (" +
              " ".join(f"i{i}={v:.4g}" for i, v in zip(traced, values)) + ")")
    jobs = sorted({e["job"] for e in execs})
    for job in jobs:
        for kind in ("cold", "warm"):
            values = [(e["i"], e["s"]) for e in execs if e["job"] == job and e["kind"] == kind]
            print(f"[job] {workload} {job}.{kind}_s = {stats.median([v for _, v in values]):.4g} s ("
                  + " ".join(f"i{i}={v:.4g}" for i, v in values) + ")")
    return metrics
