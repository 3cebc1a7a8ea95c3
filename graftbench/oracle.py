"""Output check of the batch workloads: each op's result (written once
by the benchmark process, outside the timed passes) against its
`SparkEntry.oracleSql` query run by DuckDB over the same corpus, with
the comparison of the repository's oracle gate (tools/oracle_check.py:
columns by name, rows sorted by all columns, exact values)."""
import glob
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
try:
    import oracle_check  # noqa: E402
except ImportError:
    sys.exit("graftbench: tools/oracle_check.py not found (run from the repository root)")


def check(corpus: str, check_dir: str, ops: list) -> list:
    """(op, reason) for every op whose output differs from its oracle."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in oracle_check.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    oracle = json.load(open(f"{check_dir}/oracle_sql.json"))
    bad = []
    for name in ops:
        if name not in oracle:
            bad.append((name, "no oracle SQL"))
            continue
        files = sorted(glob.glob(f"{check_dir}/{name}/*.parquet"))
        if not files:
            bad.append((name, "no output"))
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            want = con.sql(oracle[name]).df()
        except Exception as e:  # a failing oracle or unreadable output is a mismatch
            bad.append((name, str(e).splitlines()[0]))
            continue
        ok, msg = oracle_check.compare(got, want)
        if not ok:
            bad.append((name, msg))
    return bad
