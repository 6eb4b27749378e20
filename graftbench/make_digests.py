#!/usr/bin/env python3
"""Regenerate graftbench/oracle/digests.json: run each workload query's
DuckDB oracle (SparkEntry.oracleSql) over the read-only test tables and
store the digest of its canonical result, plus the sha256 of every input
table, per scale factor used by a workload. The data root is recorded too;
the benchmark reads its inputs from there.

    python3 graftbench/make_digests.py <data root holding sf0.01/, sf0.1/, ...>

The benchmark itself only compares against the stored digests, so no run
pays for the oracle.
"""
import glob
import hashlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import canon  # noqa: E402
import run  # noqa: E402


def main(data_root):
    import duckdb
    cfg = run.load_json("workloads.json")
    classes = build.build()
    rundir = os.path.join(build.OUT, f"digests-{os.getpid()}")
    os.makedirs(os.path.join(rundir, "tmp"), exist_ok=True)
    try:
        queries = sorted({q for w in cfg["workloads"].values() for q in w["queries"]})
        sql_file = os.path.join(rundir, "oracle.json")
        run.jvm(classes, ["--mode", "oracle-sql", "--queries", ",".join(queries),
                          "--result", sql_file], rundir, cfg["cores"])
        with open(sql_file) as f:
            sql = json.load(f)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    out = {}
    for sf in sorted({w["sf"] for w in cfg["workloads"].values()}):
        data = os.path.join(data_root, sf)
        con = duckdb.connect()
        inputs = {}
        for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
            name = os.path.basename(p)
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{p}')")
            with open(p, "rb") as f:
                inputs[name] = hashlib.sha256(f.read()).hexdigest()
        digests = {}
        for w in cfg["workloads"].values():
            if w["sf"] != sf:
                continue
            for q in w["queries"]:
                t0 = time.time()
                rel = con.sql(sql[q])
                hugeint = [c for c, t in zip(rel.columns, rel.types)
                           if str(t) in ("HUGEINT", "UHUGEINT")]
                digests[q] = canon.digest(rel.fetchall(), list(rel.columns), hugeint)
                print(f"{sf} {q}: {digests[q]['rows']} rows in {time.time() - t0:.1f}s",
                      file=sys.stderr)
        out[sf] = {"inputs": inputs, "queries": digests}
    os.makedirs(os.path.join(HERE, "oracle"), exist_ok=True)
    with open(os.path.join(HERE, "oracle", "digests.json"), "w") as f:
        json.dump({"data_root": data_root, "scales": out}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(os.path.abspath(sys.argv[1]))
