"""Output checks, run after the timed window (off the clock).

- Queries: the repository's `dev/check_oracles.py`, unchanged, compares
  each output the timed pass wrote with its DuckDB oracle. A query without
  an oracle fails the check (every query the workloads run has one).
- Pipeline: row counts and SCD2 invariants of each pass's catalog, against
  expectations computed by DuckDB from the source parquet tables.
"""
import json
import os
import subprocess
import sys

import duckdb


def check_queries(root, data_dir, out_dir, queries, oracle_sql, threw):
    """{query: reason} for every query whose output is wrong or missing.
    `threw` lists the queries whose operation raised."""
    bad = {q: "threw" for q in threw}
    bad.update({q: "no oracle" for q in queries if q not in oracle_sql})
    with open(os.path.join(out_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracle_sql, f)
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "dev", "check_oracles.py"), data_dir, out_dir],
        capture_output=True, text=True, timeout=120,
        env={**os.environ, "DUCKDB_THREADS": str(len(os.sched_getaffinity(0)))})
    seen = set()
    for line in proc.stdout.splitlines():
        word, _, rest = line.partition(" ")
        name = rest.strip().split(" ")[0].rstrip(":")
        if word in ("OK", "FAIL"):
            seen.add(name)
        if word == "FAIL":
            bad.setdefault(name, "oracle mismatch: " + rest.strip()[:200])
    for q in oracle_sql:
        if q not in seen:
            bad.setdefault(q, "oracle check gave no verdict")
    return bad


def pipeline_expectations(data_dir, tables):
    """What each pass's catalog must hold after day 2, from the sources."""
    con = duckdb.connect()

    def n(sql):
        return con.execute(sql.replace("$DATA", data_dir.rstrip("/"))).fetchone()[0]

    src = {"customers": n("SELECT count(*) FROM '$DATA/customer.parquet'"),
           "products": n("SELECT count(*) FROM '$DATA/part.parquet'"),
           "stores": n("SELECT count(*) FROM '$DATA/nation.parquet'")}
    dims = {t: {"rows": 2 * c, "open_rows": c, "keys_not_one_open": 0, "open_matching_day2": c}
            for t, c in src.items() if t in tables}
    # one fact row per distinct (order, product) pair whose order exists
    fact = n("SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_partkey "
             "FROM '$DATA/lineitem.parquet') WHERE l_orderkey IN "
             "(SELECT o_orderkey FROM '$DATA/orders.parquet')")
    return {"dims": dims, "fact_rows": fact if "orderdetails" in tables else -1}


def check_pipeline(observed, expected):
    """List of mismatches between one pass's catalog facts and expectations."""
    errs = []
    if observed["fact_rows"] != expected["fact_rows"]:
        errs.append(f"fact_rows {observed['fact_rows']} != {expected['fact_rows']}")
    for t, want in expected["dims"].items():
        got = observed["dims"].get(t, {})
        for k, v in want.items():
            if got.get(k) != v:
                errs.append(f"{t}.{k} {got.get(k)} != {v}")
    return errs
