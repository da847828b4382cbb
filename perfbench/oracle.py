#!/usr/bin/env python3
"""Regenerate the stored expected results of the closed-loop workloads.

    python3 perfbench/oracle.py [keyed-state] [batch-mix]

For every listed query, runs the registry's DuckDB oracle SQL
(`SparkEntry.oracleSql`) over the benchmark's generated tables at the
workload's scale factor, canonicalizes the result the way
`scripts/check_oracle.py` does, and writes row count and digest to
perfbench/expected/<workload>.json. The benchmark compares each run's
results with these digests.
"""
import json
import sys

import duckdb
import pandas  # noqa: F401  (duckdb's fetchdf needs it)

import metrics as M
import run as R


def regenerate(workload):
    cfg = R.WORKLOADS[workload]
    cp = R.build()
    data = R.tables(cfg["sf"], R.ALL_TABLES)
    out = R.BUILD / "oracle" / workload
    out.mkdir(parents=True, exist_ok=True)
    code = R.harness(cp, ["oracle", "--list", str(R.BENCH / "workloads" / cfg["list"]),
                          "--out", str(out)], out, R.RUN_LIMIT_S)
    if code != 0:
        R.die(f"oracle SQL dump failed ({code}):\n" + R.jvm_log_tail(out))
    sql = json.loads((out / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{R.BUILD / 'duckdb_spill'}'")
    for t in R.ALL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    digests = {name: M.result_digest(con.execute(q).fetchdf()) for name, q in sorted(sql.items())}
    doc = {"workload": workload, "sf": cfg["sf"],
           "command": f"python3 perfbench/oracle.py {workload}",
           "queries": digests}
    (R.BENCH / "expected" / f"{workload}.json").write_text(json.dumps(doc, indent=1) + "\n")
    print(f"{workload}: {len(digests)} expected results written")


if __name__ == "__main__":
    for w in sys.argv[1:] or [w for w, c in R.WORKLOADS.items() if c["kind"] == "closed"]:
        regenerate(w)
