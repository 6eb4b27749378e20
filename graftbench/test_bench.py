#!/usr/bin/env python3
"""The benchmark's own test.

    python3 graftbench/test_bench.py [workload ...]

(default: every workload in BENCHMARK.json; about 10 minutes for both).

For each workload, one untraced and two traced runs with the same seed must
  - check every output against the oracle digests and find no error;
  - print exactly the end-to-end (untraced) or per-layer (traced) metrics
    BENCHMARK.json names;
  - repeat each query's exact counts (jobs, stages, shuffle records, plan
    operators) to the unit across the two traced runs.
Then: the runs leave `git status` as it was (when run in a git checkout),
and the command fails without printing a result in a directory that holds
only BENCHMARK.json and the benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT = ["jobs", "stages", "broadcast_jobs", "shuffle_write_records", "shuffle_read_records",
         "input_records", "output_records", "exchanges", "sorts", "windows", "broadcasts"]


def bench(workload, seed, trace, cwd=ROOT):
    r = subprocess.run([sys.executable, os.path.join(cwd, "graftbench", "run.py"),
                        "--workload", workload, "--seed", str(seed), "--seconds", "5",
                        "--trace", str(trace)],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    return r.returncode, r.stdout.strip().splitlines(), r.stderr


def git_status():
    r = subprocess.run(["git", "status", "--porcelain", "--untracked-files=all"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return r.stdout if r.returncode == 0 else None


def checked_run(workload, trace, names):
    rc, out, err = bench(workload, 7, trace)
    assert rc == 0, f"{workload}: exit {rc}\n{err[-2000:]}"
    res = json.loads(out[-1])
    assert res["correct"] and res["failed"] == 0, res
    assert sorted(res["metrics"]) == sorted(names), (workload, sorted(res["metrics"]))


def test_runs(workload, spec):
    checked_run(workload, 0, [m["name"] for m in spec["end_to_end"]])
    runs = []
    for _ in range(2):
        checked_run(workload, 1, [m["name"] for m in spec["per_layer"]])
        with open(os.path.join(ROOT, ".bench_build", "profile", f"{workload}-seed7.json")) as f:
            runs.append({c["query"]: [c["counts"].get(k, 0) for k in EXACT]
                         for c in json.load(f)["calls"]})
    a, b = runs
    diff = {q: list(zip(EXACT, a[q], b[q])) for q in a if a[q] != b[q]}
    assert not diff, f"{workload}: counts differ between two traced runs: {diff}"
    print(f"ok {workload}: counts of {len(a)} queries repeat exactly")


def test_fails_without_engine():
    bare = os.path.join(ROOT, ".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "graftbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        rc, out, _ = bench("corpus_curation", 1, 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0, "a directory without the engine sources must fail"
    assert not any(line.startswith('{"correct"') for line in out), out
    print("ok: fails without the engine sources")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    before = git_status()
    for w in workloads:
        test_runs(w, spec)
    test_fails_without_engine()
    after = git_status()
    assert before == after, f"the runs changed the working tree:\n{before}\n---\n{after}"
    print("ok: working tree unchanged" if after is not None else "skip: not a git checkout")


if __name__ == "__main__":
    main()
