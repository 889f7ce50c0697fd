#!/usr/bin/env python3
"""Regenerate perfbench/golden.json, the digests the corpus workload
checks its query results against.

    sbt "runMain graft.Verify perfbench/data/sf0.01 <dump>"
    python3 perfbench/make_golden.py <dump>

<dump> holds one parquet directory per query and oracle_sql.json, as
graft.Verify writes them. For every query with an SQL oracle the
golden digest is computed from DuckDB's result over the same tables
(source "duckdb"); the dumped engine result must have the same digest, or
the query is reported and left out. Queries without an oracle take the
dumped engine result's digest (source "seed"). Only the queries the
corpus workload runs are kept."""
import json
import os
import sys

import duckdb

import digest
from run import CORPUS_QUERIES

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["documents", "embeddings"]


def main():
    dump = sys.argv[1]
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    golden, mismatched = {}, []
    for name in CORPUS_QUERIES:
        got, rows = digest.digest_parquet_dir(os.path.join(dump, name))
        if name in oracle:
            exp, erows = digest.digest(con.execute(oracle[name]).arrow())
            if exp != got:
                mismatched.append(f"{name}: engine {got[:12]} ({rows} rows) != "
                                  f"duckdb {exp[:12]} ({erows} rows)")
                continue
            golden[name] = {"digest": exp, "rows": erows, "source": "duckdb"}
        else:
            golden[name] = {"digest": got, "rows": rows, "source": "seed"}
    with open(os.path.join(HERE, "golden.json"), "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    by = {s: sum(1 for g in golden.values() if g["source"] == s) for s in ("duckdb", "seed")}
    print(f"{len(golden)} golden digests ({by['duckdb']} from duckdb, {by['seed']} from the "
          f"seed tree); {len(mismatched)} left out")
    for m in mismatched:
        print("  " + m)
    sys.exit(1 if mismatched else 0)


if __name__ == "__main__":
    main()
