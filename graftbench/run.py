#!/usr/bin/env python3
"""graft benchmark: one closed-loop client on local[4], outputs checked.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (graftbench/build.py), starts one JVM
(graftbench/scala/graftbench/Harness.scala) that sets up a Spark session
and issues the workload's queries (graftbench/workloads.json) one at a
time, in an order drawn from the seed, until --seconds have elapsed at a
pass boundary. Every output is written to parquet in a fresh per-run
directory and compared with the DuckDB oracle digests in
graftbench/oracle/digests.json (regenerate with make_digests.py). The
input tables are read from the data root recorded there, or from
$GRAFT_BENCH_DATA.

--trace 0 prints the end-to-end metrics; setup_s is the run's one cold
set-up, from JVM start until the session is warm. --trace 1 makes one
untraced run, then a run with a listener attached; it prints the
per-layer metrics of the traced run, with trace.overhead_frac against the
untraced one, and writes the per-query profile to .bench_build/profile/.
The last stdout line is the result JSON; the exit code is non-zero when
any output is wrong or any query fails.
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

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import canon  # noqa: E402

ROOT = build.ROOT
WORK = build.OUT
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
MB = 1048576.0


def load_json(*parts):
    with open(os.path.join(HERE, *parts)) as f:
        return json.load(f)


def jvm(classes, args, rundir, cores):
    cmd = ["java", "-Xms4g", "-Xmx4g", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(rundir, "tmp"),
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graftbench.Harness"] + args
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=os.path.join(rundir, "local"))
    with open(os.path.join(rundir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=rundir, env=env, stdout=log, stderr=log)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(os.path.join(rundir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness JVM exited {rc}:\n{tail}")


def check_inputs(data, expected):
    for name, sha in expected.items():
        with open(os.path.join(data, name), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != sha:
                raise RuntimeError(f"input {data}/{name} differs from the one the oracle digests were made from")


def run_once(classes, wl, cores, seed, seconds, trace):
    """One JVM run; returns its result and check_outputs' verdicts."""
    data = wl["data"]
    rundir = os.path.join(WORK, f"run-{os.getpid()}-{time.monotonic_ns()}")
    for d in ("tmp", "local", "warehouse", "out"):
        os.makedirs(os.path.join(rundir, d))
    try:
        result = os.path.join(rundir, "result.json")
        jvm(classes, ["--mode", "run", "--queries", ",".join(wl["queries"]),
                      "--data", data, "--warehouse", os.path.join(rundir, "warehouse"),
                      "--out", os.path.join(rundir, "out"), "--seed", str(seed),
                      "--seconds", str(seconds), "--trace", "1" if trace else "0",
                      "--result", result], rundir, cores)
        with open(result) as f:
            res = json.load(f)
        return res, check_outputs(res, wl, rundir, data)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


def check_outputs(res, wl, rundir, data):
    """Compare every call's output with its oracle digest; a verdict is None
    when they match. Also returns corpus_full's docs-out over docs-in."""
    con = duckdb.connect()
    verdicts = []
    kept = []
    for c in res["calls"]:
        if c["error"] is not None:
            verdicts.append(f"error: {c['error']}")
            continue
        path = os.path.join(rundir, "out", str(c["pass"]), c["query"])
        want = wl["digests"][c["query"]]
        try:
            got = canon.output_digest(con, path)
            verdict = None if got == want else (
                f"mismatch: got {got['rows']} rows {got['cols']}, "
                f"expected {want['rows']} rows {want['cols']}")
        except Exception as e:  # unreadable or missing output
            verdict = f"unreadable output: {e}"
        verdicts.append(verdict)
        if c["query"] == "corpus_full" and verdict is None:
            files = canon.parquet_files(path)
            out_docs = con.sql(f"SELECT count(DISTINCT doc_id) FROM read_parquet({files!r})").fetchone()[0]
            in_docs = con.sql(f"SELECT count(*) FROM read_parquet('{data}/documents.parquet')").fetchone()[0]
            kept.append(out_docs / in_docs)
    con.close()
    return verdicts, kept


def end_to_end(res):
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in res["passes"]), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in res["passes"]), "s"),
    }


def per_layer(res, verdicts, kept, untraced_wall, cores, pipelines, all_queries):
    """Per-layer metrics of the first (traced) pass. Every workload prints
    the same names, so a per-query metric reads 0 on the workloads that do
    not issue that query."""
    calls = [c for c in res["calls"] if c["pass"] == 0]
    p = res["passes"][0]
    tr = p["trace"]

    def tot(k):
        return sum(c["counts"].get(k, 0) for c in calls)

    def span(names, *fields):
        return sum(c[f] for c in calls if c["query"] in names for f in fields)

    wall = p["wall_s"]
    m = {
        # both spread more than a tenth over untraced runs, so no bound
        "query_p50_s": (statistics.median(c["wall_s"] for c in calls), "s"),
        "heap_peak_mb": (p["heap_peak_mb"], "MB"),
        "catalyst.plan_s": (sum(c["plan_s"] for c in calls), "s"),
        "SparkEntry.build_s": (sum(c["build_s"] for c in calls), "s"),
        "scheduler.driver_gap_s": (wall - tr["job_busy_s"], "s"),
        "scheduler.jobs": (tot("jobs"), "count"),
        "catalyst.exchanges": (tot("exchanges"), "count"),
        "catalyst.sorts": (tot("sorts"), "count"),
        "catalyst.windows": (tot("windows"), "count"),
        "catalyst.broadcasts": (tot("broadcasts"), "count"),
        "sources.input_mb": (tot("input_bytes") / MB, "MB"),
        "sources.input_records": (tot("input_records"), "count"),
        "sink.output_mb": (tot("output_bytes") / MB, "MB"),
        "sink.output_records": (tot("output_records"), "count"),
        "shuffle.write_mb": (tot("shuffle_write_bytes") / MB, "MB"),
        "shuffle.read_mb": (tot("shuffle_read_bytes") / MB, "MB"),
        "shuffle.write_records": (tot("shuffle_write_records"), "count"),
        "shuffle.read_records": (tot("shuffle_read_records"), "count"),
        "shuffle.spill_disk_mb": (tot("spill_disk_bytes") / MB, "MB"),
        "executor.cpu_s": (tot("executor_cpu_ns") / 1e9, "s"),
        "executor.gc_s": (tot("gc_ms") / 1e3, "s"),
        "executor.core_util": (tot("executor_run_ms") / 1e3 / (cores * wall), "ratio"),
        "Pipelines.build_s": (span(pipelines, "build_s"), "s"),
        "Pipelines.exec_s": (span(pipelines, "plan_s", "sink_s"), "s"),
        "corpus.kept_frac": (kept[0] if kept else 0.0, "ratio"),
        "scheduler.broadcast_jobs": (tot("broadcast_jobs"), "count"),
        "scheduler.stages": (tot("stages"), "count"),
        "scheduler.tasks": (tot("tasks"), "count"),
        "scheduler.failed_tasks": (tot("failed_tasks"), "count"),
        "cache.peak_mb": (tr["cache_peak_mb"], "MB"),
        "cache.leaked_mb": (tot("cache_leaked_bytes") / MB, "MB"),
        "error_rate": (sum(v is not None for v in verdicts) / len(verdicts), "ratio"),
        "trace.overhead_frac": (wall / untraced_wall - 1, "ratio"),
    }
    for q in all_queries:
        m[f"query.{q}.s"] = (sum(c["wall_s"] for c in calls if c["query"] == q), "s")
    for q in all_queries:
        m[f"query.{q}.jobs"] = (sum(c["counts"]["jobs"] for c in calls if c["query"] == q), "count")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cfg = load_json("workloads.json")
    if a.workload not in cfg["workloads"]:
        sys.exit(f"unknown workload {a.workload}; have {sorted(cfg['workloads'])}")
    wl = dict(cfg["workloads"][a.workload])
    oracle = load_json("oracle", "digests.json")
    digests = oracle["scales"][wl["sf"]]
    wl["digests"] = digests["queries"]
    wl["data"] = os.path.join(os.environ.get("GRAFT_BENCH_DATA", oracle["data_root"]), wl["sf"])
    check_inputs(wl["data"], digests["inputs"])
    classes = build.build()

    runs = [run_once(classes, wl, cfg["cores"], a.seed, a.seconds, False)]
    if a.trace:
        runs.append(run_once(classes, wl, cfg["cores"], a.seed, a.seconds, True))
    failed = attempted = 0
    for res, (verdicts, _) in runs:
        attempted += len(verdicts)
        failed += sum(v is not None for v in verdicts)
        for c, v in zip(res["calls"], verdicts):
            if v is not None:
                print(f"[graftbench] {c['query']} (pass {c['pass']}): {v}", file=sys.stderr)
    res, (verdicts, kept) = runs[-1]

    if a.trace:
        untraced = statistics.median(p["wall_s"] for p in runs[0][0]["passes"])
        all_queries = [q for w in cfg["workloads"].values() for q in w["queries"]]
        metrics = per_layer(res, verdicts, kept, untraced, cfg["cores"],
                            cfg["pipeline_queries"], all_queries)
        prof_dir = os.path.join(WORK, "profile")
        os.makedirs(prof_dir, exist_ok=True)
        prof = os.path.join(prof_dir, f"{a.workload}-seed{a.seed}.json")
        with open(prof, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "sf": wl["sf"],
                       "metrics": {k: v[0] for k, v in metrics.items()},
                       "calls": res["calls"], "passes": res["passes"],
                       "untraced_wall_s": untraced}, f, indent=1)
        print(f"[graftbench] profile written to {os.path.relpath(prof, ROOT)}", file=sys.stderr)
    else:
        metrics = end_to_end(res)

    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (build.BuildError, RuntimeError, OSError) as e:
        print(f"[graftbench] {e}", file=sys.stderr)
        sys.exit(2)
