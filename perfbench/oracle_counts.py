#!/usr/bin/env python3
"""Row count of each gate's DuckDB oracle over a directory of tables.

    python3 perfbench/oracle_counts.py <tablesDir> <oracleSql.json>

<tablesDir> holds <table>.parquet files; <oracleSql.json> maps gate name
to its oracle SQL. Prints one JSON object {gate: rows} on stdout.
"""
import json
import os
import sys

import duckdb


def main(tables_dir, sql_file):
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(tables_dir, f)
            con.execute(f"create view {f[:-len('.parquet')]} as "
                        f"select * from parquet_scan('{path}')")
    with open(sql_file) as f:
        oracles = json.load(f)
    counts = {g: con.execute(f"select count(*) from ({sql})").fetchone()[0]
              for g, sql in sorted(oracles.items())}
    print(json.dumps(counts))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
