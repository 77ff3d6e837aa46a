"""Benchmark of the graft engine: one workload per run, in one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see workloads.py and METRICS.md):
  frontdoor_mixed  MySQL connections through the listener, mixed reads/writes
  federated_wire   in-process sessions against the loopback wire fixtures

The run builds the engine and the harness from source (build.py), makes the
input tables (datagen.py), stages the read-only fixture files once per build,
writes the seeded plan, runs the JVM, checks every result (check.py) and
prints, as its last stdout line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The line before it holds the details:
load-invariant counts, machine state, error rate and failures. A run that
fails or checks wrong keeps its work directory under .bench_build/ (plan,
results, spans, JVM log); a good run deletes it.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
DATA_DIR = os.path.join(BUILD_DIR, f"data-v{datagen.VERSION}", "sf0.1")
WORKLOADS = ("frontdoor_mixed", "federated_wire")
# (clients, Spark cores) per workload: a run keeps part of the host free, so
# the JIT, the collector and the fixture servers rarely wait for a core
NPROC = os.cpu_count() or 1
CONCURRENCY = {"frontdoor_mixed": (min(2, NPROC), min(2, NPROC)),
               "federated_wire": (1, min(4, NPROC))}
RUN_LIMIT_S = 170.0
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END = {
    "setup_s": "s", "throughput_qps": "1/s", "p50_ms": "ms", "p95_ms": "ms",
    "read_p50_ms": "ms", "read_p95_ms": "ms", "heap_peak_mb": "MB"}

PER_LAYER = {
    "protocol.overhead_ms": "ms", "protocol.bytes_per_stmt": "bytes",
    "engine.sql_call_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compile_ms": "ms", "codegen.compiles": "count",
    "spark.jobs_per_stmt": "count", "spark.tasks_per_stmt": "count",
    "spark.driver_gap_ms": "ms", "spark.task_run_ms": "ms", "spark.task_cpu_ms": "ms",
    "spark.shuffle_bytes": "bytes", "spark.task_wait_ms": "ms",
    "sources.wire_requests": "count", "sources.rows_read_per_row_returned": "ratio",
    "sources.files_rewritten_per_write": "count",
    "sources.bytes_written_per_user_byte": "ratio", "sources.table_files": "count",
    "jvm.gc_ms": "ms",
    "write_p50_ms": "ms", "write_p95_ms": "ms",
    "trace.overhead_p50_ms": "ms",
    "self.stmt_ms": "ms", "self.protocol_ms": "ms", "self.engine_sql_ms": "ms",
    "self.engine_collect_ms": "ms", "self.spark_job_ms": "ms",
    "counts.jobs": "count", "counts.tasks": "count", "counts.wire_requests": "count",
    "counts.rows_read": "count", "counts.files_written": "count"}


def pct(values, q):
    return float(np.percentile(values, q)) if len(values) else 0.0


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals  # user nice system idle iowait irq softirq steal ...


def machine(start_stat, start_load):
    end = cpu_times()
    d = [b - a for a, b in zip(start_stat, end)]
    total = sum(d[:8]) or 1
    return {"nproc": os.cpu_count(), "loadavg_start": start_load[0],
            "loadavg_end": os.getloadavg()[0],
            "cpu_steal_pct": 100.0 * (d[7] if len(d) > 7 else 0) / total}


def make_plan(args, clients, work_dir, fixtures):
    cycles = 2 + int(args.seconds)
    if args.workload == "frontdoor_mixed":
        # where FedData stages its sources, under its working directory
        fed_dir = os.path.join(fixtures, "target", "graft-fed", os.path.basename(DATA_DIR))
        plan = workloads.frontdoor(args.seed, clients, cycles, work_dir, fed_dir)
    else:
        plan = workloads.federated(args.seed, clients, cycles)
    plan.update({"workload": args.workload, "seed": args.seed, "clients": clients,
                 "seconds": args.seconds, "trace": bool(args.trace)})
    return plan


def run_jvm(plan, work_dir, fixtures, deadline):
    """Runs the harness on `plan` in the fixture directory: the engine
    stages its federation fixture files under its working directory, once,
    behind a marker. Everything else the run writes goes to its own work
    directory."""
    plan = {**plan, "data_dir": DATA_DIR}
    plan_path = os.path.join(work_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    log_path = os.path.join(work_dir, "jvm.log")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", build.classpath(), "perfbench.Main", plan_path, work_dir]
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=fixtures, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {code}; log in {log_path}")


def stage(source_hash, deadline):
    """The read-only fixture directory of this build of the engine, staged
    on first use: files written through the engine's own connectors belong
    to the engine that wrote them, so another build stages its own. Older
    builds' fixture directories are removed."""
    fixtures = os.path.join(BUILD_DIR, f"fixtures-{source_hash[:16]}")
    marker = os.path.join(fixtures, "STAGED")
    if os.path.exists(marker):
        return fixtures
    for old in glob.glob(os.path.join(BUILD_DIR, "fixtures-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(fixtures)
    work_dir = os.path.join(BUILD_DIR, f"stage-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    run_jvm({"workload": "stage", "seconds": 0, "trace": False, "cycle_len": 0, "cpus": NPROC},
            work_dir, fixtures, deadline)
    shutil.rmtree(work_dir, ignore_errors=True)
    open(marker, "w").close()
    return fixtures


def verify(plan, res, checker):
    """Checks every record against DuckDB or the write model; returns
    (attempted, failures)."""
    failures, attempted = [], 0
    streams = plan["streams"]
    for rec in res["records"]:
        attempted += 1
        why = checker.statement(streams[rec["c"]][rec["i"]], rec)
        if why:
            failures.append(why)
    if plan["workload"] == "frontdoor_mixed":
        for c, final in enumerate(res["kv_final"]):
            attempted += 1
            executed = 1 + max(r["i"] for r in res["records"] if r["c"] == c)
            if check.canon_rows(final) != check.kv_model(streams[c], executed, plan["kv_init"][c]):
                failures.append(f"kv_{c}: final content differs from the write model")
    return attempted, failures


def end_to_end(res):
    timed = [r for r in res["records"] if r["phase"] == "timed" and r["ok"]]
    lat = [r["lat_ms"] for r in timed]
    reads = [r["lat_ms"] for r in timed if r["kind"] == "read"]
    m = {
        "setup_s": res["setup_s"],
        "throughput_qps": len(timed) / res["window_s"],
        "p50_ms": pct(lat, 50), "p95_ms": pct(lat, 95),
        "read_p50_ms": pct(reads, 50), "read_p95_ms": pct(reads, 95),
        "heap_peak_mb": res["heap_peak_mb"]}
    return m


def _merge(iv):
    out = []
    for s, e in sorted(iv):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def _union(iv):
    return sum(e - s for s, e in _merge(iv))


def _clip(iv, s, e):
    return [(max(a, s), min(b, e)) for a, b in iv if b > s and a < e]


PHASE_SPAN = {"sql": "engine.sql", "collect": "engine.collect"}


def self_times(spans):
    """Mean self time (span minus the part its children cover) per
    statement that crossed each layer, in ms, plus the driver gap: time a
    traced statement was in flight with no Spark job running."""
    by_stmt = {}
    for s in spans:
        by_stmt.setdefault(s["stmt"], []).append(s)
    tot, n = {}, {}
    for sid, ss in by_stmt.items():
        if not sid:
            continue
        seen = set()
        for s in ss:
            name = s["name"]
            if name == "spark.job":
                kids = []
            else:
                kids = [(k["start"], k["end"]) for k in ss if k is not s and (
                    k["parent"] == name or PHASE_SPAN.get(k["parent"]) == name)]
            own = (s["end"] - s["start"]) - _union(_clip(kids, s["start"], s["end"]))
            tot[name] = tot.get(name, 0) + own
            seen.add(name)
        for name in seen:
            n[name] = n.get(name, 0) + 1
    out = {f"self.{k.replace('.', '_')}_ms": tot.get(k, 0) / 1000.0 / max(1, n.get(k, 0))
           for k in ("stmt", "protocol", "engine.sql", "engine.collect", "spark.job")}
    stmts = [(s["start"], s["end"]) for s in spans if s["name"] == "stmt"]
    jobs = [(s["start"], s["end"]) for s in spans if s["name"] == "spark.job"]
    covered = _union(stmts)
    overlap = sum(_union(_clip(jobs, a, b)) for a, b in _merge(stmts))
    out["spark.driver_gap_ms"] = (covered - overlap) / 1000.0 / max(1, len(stmts))
    return out


def per_layer(plan, res, spans):
    L = res["layers"]
    w = plan["workload"]
    timed = [r for r in res["records"] if r["phase"] == "timed" and r["ok"]]
    traced = [r for r in timed if r["traced"]]
    n = max(1, len(traced))
    g = lambda k: float(L.get(k, 0))  # noqa: E731
    m = {k: 0.0 for k in PER_LAYER}
    m.update({
        "catalyst.analysis_ms": g("analysis_ms") / n,
        "catalyst.optimization_ms": g("optimization_ms") / n,
        "catalyst.planning_ms": g("planning_ms") / n,
        "codegen.compile_ms": g("codegen_compile_ns") / 1e6 / n,
        "codegen.compiles": g("codegen_compiles") / n,
        "spark.jobs_per_stmt": g("jobs") / n, "spark.tasks_per_stmt": g("tasks") / n,
        "spark.task_run_ms": g("task_run_ms") / n,
        "spark.task_cpu_ms": g("task_cpu_ns") / 1e6 / n,
        "spark.shuffle_bytes": g("shuffle_bytes") / n,
        "spark.task_wait_ms": g("task_wait_ms") / max(1.0, g("tasks")),
        "sources.wire_requests": g("wire_requests") / n,
        "jvm.gc_ms": g("gc_ms") / n})
    rows_out = sum(len(r["rows"]) for r in traced)
    if w == "federated_wire":
        rows_out = g("rows_returned")
        m["engine.sql_call_ms"] = g("sql_call_ns") / 1e6 / n
    m["sources.rows_read_per_row_returned"] = g("rows_read") / rows_out if rows_out else 0.0
    m["trace.overhead_p50_ms"] = (pct([r["lat_ms"] for r in traced], 50) -
                                  pct([r["lat_ms"] for r in timed if not r["traced"]], 50))
    m.update(self_times(spans))
    if w == "frontdoor_mixed":
        paired = L["paired"]
        m["protocol.overhead_ms"] = (pct([p["wire_ms"] for p in paired], 50) -
                                     pct([p["engine_ms"] for p in paired], 50))
        m["protocol.bytes_per_stmt"] = g("protocol_bytes") / n
        m["engine.sql_call_ms"] = pct([p["sql_call_ms"] for p in paired], 50)
        # the listener runs a statement's Spark jobs on its own connection
        # threads, which carry no statement tag, so the window's protocol
        # spans have no children; the protocol's own time is read off the
        # paired statements instead: wire latency minus in-process latency
        m["self.protocol_ms"] = float(np.mean([p["wire_ms"] - p["engine_ms"] for p in paired]))
        m["sources.files_rewritten_per_write"] = g("files_written") / max(1.0, g("writes"))
        m["sources.bytes_written_per_user_byte"] = g("bytes_written") / max(1.0, g("user_bytes"))
        m["sources.table_files"] = g("table_files")
        writes = [r["lat_ms"] for r in timed if r["kind"] == "write" and not r["traced"]]
        m["write_p50_ms"], m["write_p95_ms"] = pct(writes, 50), pct(writes, 95)
    for k in ("jobs", "tasks", "wire_requests", "rows_read", "files_written"):
        m[f"counts.{k}"] = float(res["counts"][k])
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()
    deadline = t_start + RUN_LIMIT_S
    start_stat, start_load = cpu_times(), os.getloadavg()

    source_hash = build.build()
    datagen.ensure(DATA_DIR)
    # a first build may take long; the run limit counts from here then
    deadline = max(deadline, time.monotonic() + 150.0)
    fixtures = stage(source_hash, deadline)
    deadline = max(deadline, time.monotonic() + 150.0)
    work_dir = os.path.join(BUILD_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    clients, cpus = CONCURRENCY[args.workload]
    plan = make_plan(args, clients, work_dir, fixtures)
    plan["cpus"] = cpus
    t_build = time.monotonic()
    run_jvm(plan, work_dir, fixtures, deadline)
    res = check.load_json(os.path.join(work_dir, "result.json"))
    t_jvm = time.monotonic()
    attempted, failures = verify(plan, res, check.Checker(DATA_DIR))
    if args.trace:
        spans = check.load_json(os.path.join(work_dir, "spans.json"))
        values, units = per_layer(plan, res, spans), PER_LAYER
    else:
        values, units = end_to_end(res), END_TO_END
    detail = {"workload": args.workload, "seed": args.seed, "clients": clients,
              "counts": res["counts"], "setup_phases": res["setup_phases"],
              "wall_s": {"build_and_data": t_build - t_start, "jvm": t_jvm - t_build,
                         "check": time.monotonic() - t_jvm},
              "machine": machine(start_stat, start_load),
              "error_rate": len(failures) / max(1, attempted),
              "failures": failures[:10]}
    if failures:
        detail["work_dir"] = work_dir
    else:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}))


if __name__ == "__main__":
    main()
