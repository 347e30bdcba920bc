#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL
in DuckDB over the same parquet tables and diff against the Verify.scala
parquet dumps (row count, schema names, value hash, order-insensitive).
Exits non-zero when a query differs or when Verify's failures.json names
a query that threw.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import json
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(con, rel):
    """Order-insensitive canonical dump: sort columns by name, round
    doubles, sort rows, hash."""
    cols = sorted(rel.columns)
    df = rel.to_df()[cols]
    rows = []
    for t in df.itertuples(index=False):
        rows.append(tuple(repr(v) for v in t))
    rows.sort()
    import hashlib
    h = hashlib.md5(repr(rows).encode()).hexdigest()
    return len(df), cols, [str(df[c].dtype) for c in cols], h, rows[:3]


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    results = {}
    for name, sql in sorted(oracle.items()):
        if only is not None and name not in only:
            continue
        entry = {}
        try:
            exp = canon(con, con.sql(sql))
            act = canon(con, con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"))
            entry["rows_match"] = exp[0] == act[0]
            entry["cols_match"] = exp[1] == act[1]
            entry["dtype_match"] = exp[2] == act[2]
            entry["hash_match"] = exp[3] == act[3]
            if not all(entry.values()):
                entry["expected"] = [exp[0], exp[1], exp[2], exp[4]]
                entry["actual"] = [act[0], act[1], act[2], act[4]]
        except Exception as e:
            entry["error"] = str(e)[:400]
        results[name] = entry
    ok = sum(1 for e in results.values()
             if e.get("hash_match") and e.get("rows_match"))
    print(json.dumps(results, indent=2, default=str))
    print(f"\n{ok}/{len(results)} queries green", file=sys.stderr)
    failures = verify_failures(out_dir)
    for name, msg in sorted(failures.items()):
        print(f"[verify] {name} failed: {msg}", file=sys.stderr)
    return 0 if ok == len(results) and not failures else 1


def verify_failures(out_dir):
    """Queries Verify recorded as thrown (query -> message); none when
    the dump predates failures.json."""
    try:
        with open(f"{out_dir}/failures.json") as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
