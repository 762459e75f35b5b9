#!/usr/bin/env python3
"""Pins the result fingerprints in perfbench/fingerprints.json.

    python3 perfbench/pin.py [--write]

Runs every `b*` query and every near-dup query once on the benchmark's
tables (the cold pass of a `--full` run), fingerprints each result, and
cross-checks it against the query's `SparkEntry.oracleSql` run in DuckDB
over the same tables, normalised as tools/check_oracle.py normalises.
Queries without an oracle (b11) are pinned by row count and columns only.
With --write, and only when every cross-check passes, the Spark-side
fingerprints are written out. Run from the root of a checkout.
"""
import json
import os
import sys

import duckdb

import fingerprint
import run


def main():
    classpath, _ = run.build()
    data = run.data_dir()
    spark_fp = {}
    for wl in ("relational", "near_dup"):
        work = os.path.join(run.BUILD, "work", f"pin-{wl}")
        result = run.run_jvm(classpath, wl, 1, 1, 0, data, work, full=True)
        if result["failed"]:
            raise SystemExit(f"{wl} failed: {result['errors']}")
        for n in result["check_queries"]:
            spark_fp[n] = fingerprint.of_parquet(os.path.join(work, "check", n), n)
    work = os.path.join(run.BUILD, "work", "pin-oracle")
    oracle = run.run_jvm(classpath, "oracle_sql", 1, 1, 0, data, work)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = 0
    for n in sorted(spark_fp):
        if n not in oracle:
            print(f"ROWS-ONLY {n}: {spark_fp[n]}")
            continue
        duck = fingerprint.fingerprint(con.execute(oracle[n]).fetch_df(),
                                       rows_only=n in fingerprint.ROWS_ONLY)
        ok = duck == spark_fp[n]
        bad += not ok
        print(f"{'PASS' if ok else 'FAIL'} {n}: spark {spark_fp[n]}" + ("" if ok else f" duckdb {duck}"))
    print(f"== {len(spark_fp) - bad} agree, {bad} differ ==")
    if "--write" in sys.argv and not bad:
        with open(os.path.join(run.HERE, "fingerprints.json"), "w") as f:
            json.dump(dict(sorted(spark_fp.items())), f, indent=1)
            f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
