"""Result checks: catalog results against their DuckDB oracles, and MR
word counts against the generator's histogram.

The catalog comparison follows the rules of the repository's
`scripts/check.py`: both sides' columns are sorted by name, the column
lists and row counts must be equal, and values are compared row by row,
equal when `==`, both null, equal as strings, or both NaN.
"""
import glob
import hashlib
import math
import os

import duckdb


def compare(got, want):
    """Returns None when the two pandas frames match, else the first
    difference as a message."""
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        return f"columns differ: result={list(got.columns)} oracle={list(want.columns)}"
    if len(got) != len(want):
        return f"row count differs: result={len(got)} oracle={len(want)}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if a == b or (a is None and b is None) or str(a) == str(b):
                continue
            if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
                continue
            return f"col {c} row {i}: result={a!r} oracle={b!r}"
    return None


def check_catalog(fixture_dir, results_dir, oracle_sql):
    """Checks each `results_dir/<name>` parquet result against the DuckDB
    run of `oracle_sql[name]` over views of the fixture tables. Returns
    {name: None or failure message} for every name in `oracle_sql`."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for p in sorted(glob.glob(os.path.join(fixture_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    verdicts = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')").df()
        except Exception as e:  # noqa: BLE001 - any read failure is a failed check
            verdicts[name] = f"no result: {type(e).__name__}: {e}"
            continue
        try:
            want = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001
            verdicts[name] = f"oracle SQL error: {type(e).__name__}: {e}"
            continue
        verdicts[name] = compare(got, want)
    con.close()
    return verdicts


def histogram_digest(hist):
    """MD5 of the `word\\tcount\\n` lines in word order: the digest the
    benchmark JVM computes from each MR job's output."""
    md = hashlib.md5()
    for w in sorted(hist):
        md.update(f"{w}\t{hist[w]}\n".encode())
    return md.hexdigest()


def compare_histogram(tsv_path, hist):
    """Returns None when the MR result written at `tsv_path` equals `hist`,
    else the first difference."""
    got = {}
    with open(tsv_path, encoding="utf-8") as fh:
        for line in fh:
            w, c = line.rstrip("\n").split("\t")
            got[w] = int(c)
    if got == hist:
        return None
    for w in sorted(set(got) | set(hist)):
        if got.get(w) != hist.get(w):
            return f"word {w!r}: result={got.get(w)} expected={hist.get(w)}"
    return None
