#!/usr/bin/env python3
"""Derives expected_rows.json, the row count each benchmark query must
return, from the DuckDB oracle over the committed tables.

    SPARK_GRAFT_ONLY=none sbt "runMain graft.Verify perfbench/data/sf0.01 <dir>"
    python3 perfbench/derive_expected.py <dir>/oracle_sql.json

The first command only writes the oracle SQL of every declared query. A
query without oracle SQL (a sketch or ANN operator) gets no entry; the
benchmark then requires it to return at least one row.
"""
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    with open(sys.argv[1]) as f:
        oracle = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        specs = json.load(f)["workloads"]
    con = duckdb.connect()
    data = os.path.join(HERE, "data", "sf0.01")
    for name in sorted(os.listdir(data)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{os.path.join(data, name)}'")
    members = sorted({q for s in specs.values() if s["kind"] == "query"
                      for q in s["pass"] + [s["first"]]})
    out = {q: con.execute(f"SELECT count(*) FROM ({oracle[q]})").fetchone()[0]
           for q in members if q in oracle}
    with open(os.path.join(HERE, "expected_rows.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(out)} expected counts; rows-only: {sorted(set(members) - set(out))}")


if __name__ == "__main__":
    main()
