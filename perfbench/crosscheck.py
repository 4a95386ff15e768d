#!/usr/bin/env python3
"""Cross-check the analytics workload against the DuckDB oracle.

    python3 perfbench/crosscheck.py

Dumps every query of the analytics list with graft.Verify over the
benchmark's sf0.01 tables, compares each dump with its oracle SQL run by
DuckDB (the engine's own oracle gate, tools/check_oracle.py), and checks
that the row counts in perfbench/expected/analytics_sf0.01.json are
DuckDB's. Needs the python duckdb package.
"""
import json
import os
import re
import subprocess
import sys

import run

sys.path.insert(0, os.path.join(run.ROOT, "tools"))
import check_oracle  # noqa: E402
import duckdb  # noqa: E402


def query_names():
    src = open(os.path.join(run.HARNESS_SRC, "perfbench", "Analytics.scala")).read()
    block = src[src.index("val Queries"):src.index("val Carried")]
    return re.findall(r'"([a-z0-9_]+)" -> "', block)


def main():
    classes = run.build()
    data = run.WORKLOADS["analytics_sf0.01"][1]
    out = os.path.join(run.BUILD, "crosscheck")
    names = query_names()
    os.makedirs(out, exist_ok=True)
    subprocess.run(
        ["java", "-Xmx3g"] + run.ADD_OPENS
        + ["-Dspark.sql.session.timeZone=UTC", "-cp",
           os.pathsep.join([classes, os.path.join(run.SPARK_JARS, "*")]),
           "graft.Verify", data, out] + names,
        check=True, cwd=out, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    gate = check_oracle.main(data, out)

    with open(run.EXPECTED) as f:
        expected = json.load(f)["queries"]
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in os.listdir(data):
        con.execute(f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM '{data}/{t}'")
    bad = 0
    for name in names:
        rows = len(con.sql(oracle[name]).fetchall())
        ok = rows == expected[name]["rows"]
        bad += not ok
        print(f"{'PASS' if ok else 'FAIL'} {name}: expected file {expected[name]['rows']} "
              f"rows, DuckDB {rows}")
    print(f"== oracle gate {'pass' if gate == 0 else 'FAIL'}, "
          f"{len(names) - bad}/{len(names)} expected row counts match ==")
    return 1 if gate or bad else 0


if __name__ == "__main__":
    sys.exit(main())
