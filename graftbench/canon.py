"""Digest of a query result in the canonical form tools/check_correctness.py
compares (its `table_of`: columns sorted by name, values canonicalised,
rows sorted). The benchmark stores and compares digests of that form, so
expected results never need the DuckDB oracle at run time.
"""
import glob
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_correctness import table_of  # noqa: E402


def digest(rows, cols, hugeint_cols=()):
    """{rows, cols, sha256} of the canonical value matrix."""
    sorted_cols, mat = table_of(rows, cols, hugeint_cols)
    sha = hashlib.sha256(json.dumps([sorted_cols, mat]).encode()).hexdigest()
    return {"rows": len(mat), "cols": sorted_cols, "sha256": sha}


def parquet_files(path):
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def output_digest(con, path):
    """Digest of a Spark parquet output directory, read through DuckDB."""
    files = parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    r = con.sql(f"SELECT * FROM read_parquet({files!r})")
    return digest(r.fetchall(), list(r.columns))
