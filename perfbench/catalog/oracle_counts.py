#!/usr/bin/env python3
"""Derive expected_rows.json: the DuckDB oracle's row count for each query
of queries.txt over the committed fixture.

The oracle SQL is the engine's own `SparkEntry.oracleSql`, dumped by the
benchmark's tool mode:

    java ... graft.perfbench.Main --work <dir> --dump-oracle oracle_sql.json
    python3 perfbench/catalog/oracle_counts.py oracle_sql.json

The counts are committed; a benchmark run never recomputes them.
"""
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> int:
    oracle = json.load(open(sys.argv[1]))
    names = [l.strip() for l in open(os.path.join(HERE, "queries.txt"))
             if l.strip() and not l.startswith("#")]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(HERE, 'fixture', t + '.parquet')}'")
    counts = {}
    for name in names:
        counts[name] = con.sql(f"SELECT count(*) FROM ({oracle[name]})").fetchone()[0]
    with open(os.path.join(HERE, "expected_rows.json"), "w") as f:
        json.dump(counts, f, indent=2, sort_keys=True)
        f.write("\n")
    print(json.dumps(counts, indent=2, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
