#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload nvd_etl --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout.  Builds the program from source
(`perfbench/build.py`), makes the inputs from the seed, runs the
workload in one JVM at local[CPUS], checks every output, and prints as its
last line one JSON object: `correct`, `attempted`, `failed` and `metrics`.
With `--trace 0` the metrics are the end-to-end set, measured untraced;
with `--trace 1` they are the per-layer set from a traced run.  The line
before it (`sizes ...`) records input sizes, sample counts and noise.
See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import build  # noqa: E402
import oracle  # noqa: E402
import plan as planner  # noqa: E402

CPUS = 4
SETUP_REPS = 3
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 175
# the first run after a build may take this long: it compiles
FIRST_RUN_TIMEOUT_S = 850

END_TO_END = [
    ("wall_s", "s"), ("setup_s", "s"), ("op_p50_ms", "ms"), ("op_p90_ms", "ms"),
    ("cpu_s", "s"),
]

PER_LAYER = [
    ("sources.schema_parse_ms", "ms"), ("sources.ingest_s", "s"),
    ("sources.antijoin_s", "s"), ("sources.append_s", "s"),
    ("sources.loadfeed_p50_s", "s"), ("sources.loadfeed_max_s", "s"),
    ("sources.loadfeed_n", "count"), ("sources.count_probe_s", "s"),
    ("sources.new_per_read", "ratio"), ("sources.warehouse_files", "count"),
    ("sources.bytes_per_cve", "bytes"), ("sources.bootstrap_s", "s"),
    ("sources.incremental_s", "s"), ("sources.warehouse_query_s", "s"),
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("operators.action_s", "s"),
    ("planning.analysis_ms", "ms"), ("planning.optimization_ms", "ms"),
    ("planning.physical_ms", "ms"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.job_gap_s", "s"),
    ("scheduler.single_task_stage_frac", "ratio"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.parallel_eff", "ratio"), ("exec.gc_s", "s"),
    ("exec.failed_tasks", "count"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"), ("spill.disk_bytes", "bytes"),
    ("io.input_bytes", "bytes"), ("io.output_bytes", "bytes"),
    ("session.build_s", "s"), ("session.release_s", "s"),
    ("codegen.compile_ms", "ms"),
    ("trace.op_self_s", "s"), ("trace.job_self_s", "s"),
    ("trace.spans", "count"), ("trace.overhead_pct", "%"),
    ("noise.steal_pct", "%"), ("noise.foreign_pct", "%"),
    ("noise.probe_median", "count"),
    ("check.failed_frac", "ratio"), ("storage.residual_mb", "MB"),
    ("mem.heap_peak_mb", "MB"),
]

# layer metrics the harness computes per traced pass
PASS_LAYER_KEYS = [n for n, _ in PER_LAYER
                   if n.split(".")[0] in ("operators", "planning", "scheduler", "exec",
                                          "shuffle", "spill", "io")
                   or n in ("trace.op_self_s", "trace.job_self_s", "trace.spans")]

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)] if s else 0.0


def timed_ops(report):
    return [op for p in report["passes"] for op in p["ops"]]


def grade(plan, report, checks):
    """(attempted, failed, failures): every operation of the timed window,
    failed when it raised or its output is wrong."""
    ops = timed_ops(report)
    if plan["workload"] == "nvd_etl":
        exp = plan["nvd"]["expected"]

        def wrong(op):
            return op["value"] != planner.nvd_step_expected(op["name"], exp)
        failures = []
    else:
        bad = {n for n in plan["queries"] if not checks.get(n, {}).get("ok")}

        def wrong(op):
            return op["name"] in bad
        failures = [f"{n}: {checks.get(n, {}).get('message', 'not checked')}"
                    for n in sorted(bad)]
    failed_ops = [op for op in ops if op["error"] or wrong(op)]
    failures += [f"{op['name']}: value {op['value']} {op['error'] or ''}".strip()
                 for op in failed_ops]
    src = report["sources"]
    probes = ([("antijoin_new", src["antijoin_new"], 0),
               ("count_probe_value", src["count_probe_value"], plan["nvd"]["cves"])]
              if src else [])
    bad_probes = [f"{n}: got {got} want {want}" for n, got, want in probes if got != want]
    return len(ops) + len(probes), len(failed_ops) + len(bad_probes), failures + bad_probes


def op_medians_ms(report):
    """Each operation's median latency over the timed passes."""
    by_name = {}
    for op in timed_ops(report):
        by_name.setdefault(op["name"], []).append(op["wall_s"] * 1000)
    return [median(v) for v in by_name.values()]


def end_to_end(report):
    passes = report["passes"]
    lat = op_medians_ms(report)
    setups = [s["build_s"] + s["gen_s"] for s in report["setups"]]
    return {
        "wall_s": median([p["wall_s"] for p in passes]),
        "setup_s": median(setups) + report["warm"]["wall_s"] + report["warm"]["release_s"],
        "op_p50_ms": percentile(lat, 50),
        "op_p90_ms": percentile(lat, 90),
        "cpu_s": median([p["cpu_s"] for p in passes]),
    }


def per_layer(plan, report, attempted, failed):
    # pass 0 still carries JIT warm-up, so a traced run neither traces nor
    # counts it
    passes = [p for p in report["passes"] if p["index"] > 0]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    m = {k: median([float(layer[k]) for layer in report["layers"]]) for k in PASS_LAYER_KEYS}
    m.update({n: 0.0 for n, _ in PER_LAYER if n.startswith("sources.")})
    if plan["workload"] == "nvd_etl":
        src = report["sources"]
        per = plan["nvd"]["cves"] // plan["nvd"]["shards"]

        def step_s(p, pred):
            return sum(op["wall_s"] for op in p["ops"] if pred(op["name"]))
        loads = [op for p in traced for op in p["ops"] if op["name"].startswith("load")]
        load_s = [op["wall_s"] for op in loads]
        m.update({
            "sources.schema_parse_ms": src["schema_parse_ms"],
            "sources.ingest_s": src["ingest_s"],
            "sources.antijoin_s": src["antijoin_s"],
            "sources.append_s": src["append_s"],
            "sources.count_probe_s": src["count_probe_s"],
            "sources.loadfeed_p50_s": median(load_s),
            "sources.loadfeed_max_s": max(load_s) if load_s else 0.0,
            "sources.loadfeed_n": len(load_s),
            "sources.new_per_read": (sum(max(0, op["value"]) for op in loads) /
                                     (2.0 * per * len(loads)) if loads else 0.0),
            "sources.warehouse_files": src["warehouse_files"],
            "sources.bytes_per_cve": src["warehouse_bytes"] / max(1, src["count_probe_value"]),
            "sources.bootstrap_s": median([step_s(p, lambda n: n == "bootstrap")
                                           for p in traced]),
            "sources.incremental_s": median([step_s(p, lambda n: n.startswith("load"))
                                             for p in traced]),
            "sources.warehouse_query_s": median([step_s(p, lambda n: n in ("count", "linux"))
                                                 for p in traced]),
        })
    tw, uw = median([p["wall_s"] for p in traced]), median([p["wall_s"] for p in untraced])
    m.update({
        "session.build_s": median([s["build_s"] for s in report["setups"]]),
        "session.release_s": median([p["release_s"] for p in passes]),
        "codegen.compile_ms": report["warm"]["codegen_ms"],
        "trace.overhead_pct": (tw / uw - 1.0) * 100.0 if uw > 0 else 0.0,
        "noise.steal_pct": median([max(0.0, p["steal_pct"]) for p in passes]),
        "noise.foreign_pct": median([max(0.0, p["foreign_pct"]) for p in passes]),
        "noise.probe_median": median([report["probe_before"]["median"],
                                      report["probe_after"]["median"]]),
        "check.failed_frac": failed / attempted if attempted else 1.0,
        "storage.residual_mb": max([p["residual_storage_bytes"] for p in passes] or [0]) / 2**20,
        "mem.heap_peak_mb": report["heap_peak_bytes"] / 2**20,
    })
    return m


def table_rows():
    return {t: pq.ParquetFile(os.path.join(planner.TABLES_DIR, t + ".parquet")).metadata.num_rows
            for t in planner.TABLES}


def result(plan, report, checks, trace):
    """The final JSON line and the sizes/evidence line before it."""
    attempted, failed, failures = grade(plan, report, checks)
    if trace:
        values, names = per_layer(plan, report, attempted, failed), PER_LAYER
    else:
        values, names = end_to_end(report), END_TO_END
    checks_ok = all(c["ok"] for c in checks.values())
    out = {"correct": failed == 0 and checks_ok and not failures,
           "attempted": attempted, "failed": failed,
           "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in names}}
    sizes = {
        "workload": plan["workload"], "seed": plan["seed"], "cpus": report["cpus"],
        "queries": plan["queries"], "inputs": report["inputs"],
        "passes": len(report["passes"]), "op_samples": len(timed_ops(report)),
        "operations": len(op_medians_ms(report)),
        "warm_wall_s": report["warm"]["wall_s"],
        "pass_wall_s": [p["wall_s"] for p in report["passes"]],
        "percentiles": "op_p50_ms and op_p90_ms: nearest rank over the operations' "
                       "median latencies",
        "window_s": report["window_s"],
        "steal_pct": [round(p["steal_pct"], 3) for p in report["passes"]],
        "foreign_pct": [round(p["foreign_pct"], 3) for p in report["passes"]],
        "probe_before": report["probe_before"], "probe_after": report["probe_after"],
        "checks": {n: c["message"] for n, c in checks.items()},
        "exact": sum(1 for c in checks.values() if c["exact"]),
        "failures": failures[:20],
    }
    if plan["workload"] == "nvd_etl":
        sizes["nvd"] = {k: plan["nvd"][k] for k in ("cves", "shards", "bootstrap", "loads",
                                                    "expected")}
    else:
        sizes["table_rows"] = table_rows()
    return out, sizes


def run_jvm(plan_path, report_path, work, timeout):
    """Run the harness JVM and wait for it to end."""
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "graftbench.Main", plan_path, report_path])
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"workload JVM exceeded {timeout:.0f} s")
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"workload JVM exited {code}:\n{tail}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(planner.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()
    try:
        built = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")

    work = os.path.abspath(os.path.join(".bench_out", args.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan = planner.make(args.workload, args.seed, args.seconds, args.trace, work,
                        planner.TABLES_DIR, CPUS, SETUP_REPS)
    plan_path, report_path = os.path.join(work, "plan.json"), os.path.join(work, "report.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f, indent=1)
    try:
        limit = FIRST_RUN_TIMEOUT_S if built else RUN_TIMEOUT_S
        run_jvm(plan_path, report_path, work,
                limit - (time.monotonic() - t_start))
    except RuntimeError as e:
        sys.exit(f"perfbench: {e}")
    with open(report_path) as f:
        report = json.load(f)
    checks = {}
    if plan["queries"]:
        checks = oracle.check_dir(os.path.join(work, "check"), planner.TABLES_DIR,
                                  os.path.abspath(os.path.join(".bench_out", "oracle")))
        for op in report["warm"]["ops"]:
            if op["error"]:
                checks[op["name"]] = {"ok": False, "exact": False, "message": op["error"]}
    shutil.rmtree(os.path.join(work, "scratch"), ignore_errors=True)
    out, sizes = result(plan, report, checks, args.trace)
    print("sizes " + json.dumps(sizes))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
