#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the digest of each benchmarked
query's DuckDB oracle result (SparkEntry.oracleSql) over perfbench/data.

    python3 perfbench/gen_expected.py

Run it only when the query list, the oracle SQL or the data changes; the
benchmark compares Spark's output against the committed file.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import digest  # noqa: E402
import duckdb  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def main():
    classes = build.build()
    sql_path = os.path.join(build.BUILD, "oracle_sql.json")
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", classes + ":" + os.path.join(build.spark_jars(), "*"),
                    "graftbench.Main", "--oracles", sql_path], check=True)
    with open(sql_path) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    data = os.path.join(HERE, "data", "sf0.1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    expected = {name: digest.of_relation(con.execute(sql)) for name, sql in sorted(oracles.items())}
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(expected)} digests")


if __name__ == "__main__":
    main()
