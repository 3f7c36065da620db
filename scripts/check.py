#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 scripts/check.py <sfDir> <outDir>
  1. expects `sbt "runMain graft.Verify <sfDir> <outDir>"` to have run
  2. registers each <sfDir>/<table>.parquet as a DuckDB view
  3. runs every oracle_sql.json entry, compares against <outDir>/<name>/
     parquet dump: column names (sorted), row count, and cell values after
     sorting rows by all columns.

This is a strict comparator (exact equality, doubles compared by repr with
tolerance fallback reported separately) so anything that passes here should
pass the driver's hash compare.
"""
import json
import math
import sys
from pathlib import Path

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def rows_key(row):
    return tuple((x is None, str(x)) for x in row)


def compare(name, oracle_rows, oracle_cols, spark_rows, spark_cols):
    problems = []
    if sorted(oracle_cols) != sorted(spark_cols):
        problems.append(f"schema mismatch: oracle={sorted(oracle_cols)} spark={sorted(spark_cols)}")
        return problems
    # reorder both to sorted column order
    o_idx = [oracle_cols.index(c) for c in sorted(oracle_cols)]
    s_idx = [spark_cols.index(c) for c in sorted(spark_cols)]
    o = sorted([tuple(r[i] for i in o_idx) for r in oracle_rows], key=rows_key)
    s = sorted([tuple(r[i] for i in s_idx) for r in spark_rows], key=rows_key)
    if len(o) != len(s):
        problems.append(f"row count: oracle={len(o)} spark={len(s)}")
        return problems
    n_diff = 0
    for i, (ro, rs) in enumerate(zip(o, s)):
        for c, (vo, vs) in enumerate(zip(ro, rs)):
            eq = vo == vs
            if not eq and isinstance(vo, float) and isinstance(vs, float):
                if math.isclose(vo, vs, rel_tol=1e-12, abs_tol=1e-12):
                    problems.append(
                        f"  ~ row {i} col {sorted(oracle_cols)[c]}: close-but-not-equal {vo!r} vs {vs!r}")
                    continue
            if not eq:
                n_diff += 1
                if n_diff <= 5:
                    problems.append(
                        f"  row {i} col {sorted(oracle_cols)[c]}: oracle={vo!r} spark={vs!r}")
    if n_diff:
        problems.insert(0, f"{n_diff} differing cells")
    return problems


def type_check(con, name, sql, dump):
    """The driver's hash is sensitive to int128: a DuckDB HUGEINT column
    (e.g. from an uncast sum(BIGINT) or // over it) hash-mismatches a Spark
    BIGINT even when every value is identical — invisible to the value
    compare above because Python converts both to int. Hard-fail on any
    HUGEINT/UHUGEINT oracle column; warn on other width mismatches (the
    driver forgives INTEGER/BIGINT and DECIMAL/DOUBLE, audited round 7)."""
    problems = []
    try:
        o_types = {r[0]: r[1] for r in con.execute(f"DESCRIBE ({sql})").fetchall()}
        s_types = {r[0]: r[1] for r in con.execute(f"DESCRIBE SELECT * FROM '{dump}'").fetchall()}
    except Exception as e:
        return [f"type check error: {e}"]
    for c, t in sorted(o_types.items()):
        if "HUGEINT" in t.upper():
            problems.append(
                f"oracle col {c} is {t} (spark: {s_types.get(c)}) — int128 breaks the driver hash; CAST it")
        elif c in s_types and t != s_types[c]:
            problems.append(f"  ~ type width: col {c} oracle={t} spark={s_types[c]}")
    return problems


def driver_sortable(out_dir, name):
    """Replicate the driver's dump loader: it reads the parquet dump into
    pandas and sorts by ALL columns before hashing / counting rows. A cell
    type pandas cannot lexsort (numpy.ndarray from a Spark array column,
    dicts from structs) crashes the driver even for a rows-only query —
    r10's `q_embed_pq` shipped red exactly this way while every local check
    passed. Returns a list of problems (empty = sortable)."""
    try:
        df = pd.read_parquet(Path(out_dir) / name)
    except Exception as e:
        return [f"pandas cannot read dump: {e}"]
    try:
        df.sort_values(by=list(df.columns))
    except Exception as e:
        return [
            f"dump not driver-sortable (pandas sort_values failed): "
            f"{type(e).__name__}: {e} — project array/struct columns to "
            f"scalars in the dump (array_join / xxhash64)"]
    return []


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle_sql = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    declared = sorted(p.name for p in Path(out_dir).iterdir() if p.is_dir())
    for name in declared:
        dump = f"{out_dir}/{name}/*.parquet"
        try:
            sp = con.execute(f"SELECT * FROM '{dump}'")
            spark_rows, spark_cols = sp.fetchall(), [d[0] for d in sp.description]
        except Exception as e:
            print(f"FAIL {name}: cannot read spark dump: {e}")
            n_fail += 1
            continue
        sort_problems = driver_sortable(out_dir, name)
        if sort_problems:
            print(f"FAIL {name}:")
            for p in sort_problems:
                print(f"    {p}")
            n_fail += 1
            continue
        if name not in oracle_sql:
            status = "ROWS-ONLY" if len(spark_rows) > 0 else "ROWS-ONLY-EMPTY(!)"
            print(f"{status} {name}: {len(spark_rows)} rows")
            if len(spark_rows) == 0:
                n_fail += 1
            else:
                n_pass += 1
            continue
        try:
            orc = con.execute(oracle_sql[name])
            oracle_rows, oracle_cols = orc.fetchall(), [d[0] for d in orc.description]
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        problems = compare(name, oracle_rows, oracle_cols, spark_rows, spark_cols)
        problems += type_check(con, name, oracle_sql[name], dump)
        hard = [p for p in problems if not p.startswith("  ~")]
        if hard:
            n_fail += 1
            print(f"FAIL {name}:")
            for p in problems[:10]:
                print(f"    {p}")
        else:
            n_pass += 1
            extra = f" ({len(problems)} float-close warnings)" if problems else ""
            print(f"PASS {name}: {len(oracle_rows)} rows{extra}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
