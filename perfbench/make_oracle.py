"""Regenerate `oracle.json`: the DuckDB answer of every query_mix
query over the tables in `data/`, normalized the way
`tests/oracle_compare.py` compares results (lower-cased column names
sorted, cells rendered to tagged strings, rows sorted).

The benchmark only reads the stored answers, so a run never pays for
DuckDB. Run this after changing the bundled tables or the query set:

    python3 perfbench/make_oracle.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

from target_hdfs_spark.registry import all_queries  # noqa: E402
from tests.oracle_compare import _normalize  # noqa: E402

DATA_DIR = os.path.join(HERE, "data")
ORACLE_PATH = os.path.join(HERE, "oracle.json")


def main() -> None:
    from workloads import QUERIES

    specs = all_queries()
    con = duckdb.connect()
    for fname in sorted(os.listdir(DATA_DIR)):
        table = fname.removesuffix(".parquet")
        path = os.path.join(DATA_DIR, fname)
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    answers = {}
    for q in QUERIES:
        cur = con.execute(specs[q].oracle)
        cols = [d[0].lower() for d in cur.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        rows = _normalize(cur.fetchall(), order)
        answers[q] = {"columns": sorted(cols), "rows": [list(r) for r in rows]}
        print(f"{q}: {len(rows)} rows", file=sys.stderr)
    with open(ORACLE_PATH, "w", encoding="utf-8") as fh:
        json.dump(answers, fh, indent=0, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
