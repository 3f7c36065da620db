"""SHA-256 of every output of the job-table batches, per directory: the
curated parquet, the quarantine JSON and the report CSV, each read with
DuckDB and hashed as sorted row strings. A row is rendered as JSON with
sorted keys: DuckDB orders a JSON record's struct fields as it meets them
in the files, and the part files' row order depends on the plan.
usage: python3 output_hashes.py <jobTableOutRoot>/out"""
import glob, hashlib, json, os, sys

import duckdb

con = duckdb.connect()
readers = {"curated": "read_parquet('{}/*.parquet')",
           "validation": "read_json_auto('{}/*.json')",
           "reports": "read_csv_auto('{}/*.csv', header=true)"}
for d in sorted(glob.glob(os.path.join(sys.argv[1], "*"))):
    kind = os.path.basename(d).split("_")[0]
    rows = [json.dumps(r, sort_keys=True, default=str)
            for r in con.execute(f"SELECT * FROM {readers[kind].format(d)}").fetchall()]
    h = hashlib.sha256("\n".join(sorted(rows)).encode()).hexdigest()
    print(f"{os.path.basename(d)} rows={len(rows)} sha256={h}")
