#!/usr/bin/env python3
"""Pin each query's expected row count from its DuckDB oracle.

The query_suite workload checks every query's Spark row count against
the count pinned here. Regenerate after a query or its oracle changes:

    tools/run.sh graft.Verify perfbench/data/sf0.01 <out>
    python3 tools/check.py perfbench/data/sf0.01 <out>   # must pass
    python3 perfbench/pin_counts.py perfbench/data/sf0.01 <out>/oracle_sql.json

Writes perfbench/expected_counts.json.
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    data_dir, oracle_path = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')")
    oracle = json.load(open(oracle_path))
    counts = {name: con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
              for name, sql in sorted(oracle.items())}
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "expected_counts.json")
    with open(out, "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(counts)} counts to {out}")


if __name__ == "__main__":
    main()
