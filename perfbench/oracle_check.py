#!/usr/bin/env python3
"""Cross-check the stored query_mix row counts against the DuckDB oracle.

Usage, from the root of a checkout after one benchmark build:

    java @.bench_build/java.args perfbench.Main --write-oracle ORACLE.json \
        --root .
    python3 perfbench/oracle_check.py ORACLE.json

Runs each query's oracle SQL (graft.SparkEntry.oracleSql) in DuckDB over
the fixture tables and compares the row count with
perfbench/expected/query_mix.json. Exits 1 on any mismatch.
"""
import json
import os
import re
import sys

import duckdb

DATA = os.path.join("perfbench", "data", "sf0.001")
EXPECTED = os.path.join("perfbench", "expected", "query_mix.json")


def main(oracle_path):
    with open(oracle_path) as f:
        oracle = json.load(f)
    with open(EXPECTED) as f:
        expected = json.load(f)
    con = duckdb.connect()
    for name in sorted(os.listdir(DATA)):
        table = name.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(DATA, name)}')")
    ok = bad = 0
    without = []
    key = lambda q: (int(re.match(r"q(\d+)", q).group(1)), q)
    for q in sorted(expected, key=key):
        if q not in oracle:
            without.append(q)
            continue
        try:
            rows = len(con.execute(oracle[q]).fetchall())
        except Exception as e:  # an oracle that cannot run is a mismatch
            rows = f"error: {type(e).__name__}: {e}"
        if rows == expected[q]["rows"]:
            ok += 1
        else:
            bad += 1
            print(f"MISMATCH {q}: duckdb {rows}, stored {expected[q]['rows']}")
    print(f"{ok} match, {bad} mismatch, {len(without)} without oracle SQL"
          + (f" ({', '.join(without)})" if without else ""))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(sys.argv[1])
