#!/usr/bin/env python3
"""Regenerate perfbench/oracle_fingerprints.json: the expected result
fingerprint of every analytics query, from the engine's own DuckDB
oracle SQL (`SparkEntry.oracleSql`) run in DuckDB over the analytics
input tables in perfbench/data/, at the full and the smoke scale.

Run it from the repository root after changing the query mix, the oracle
SQL or the input tables:  python3 perfbench/make_fingerprints.py
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import fingerprint  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_fingerprints(data_dir, oracles):
    out = {}
    for name, sql in sorted(oracles.items()):
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        rel = con.sql(sql)
        out[name] = fingerprint.of(rel.columns, rel.fetchall())
        con.close()
        print(f"{name}: {out[name]['rows']} rows", file=sys.stderr)
    return out


def main():
    classpath, _ = run.build()
    work = os.path.join(HERE, "work", "fingerprints")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        oracle_file = os.path.join(work, "oracles.json")
        subprocess.run(run.java_cmd(classpath, work) + ["--dump-oracles", oracle_file],
                       check=True, cwd=work)
        with open(oracle_file) as fh:
            oracles = json.load(fh)
        scales = {sf: oracle_fingerprints(os.path.join(HERE, "data", sf), oracles)
                  for sf in sorted(run.SCALES.values())}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "oracle_fingerprints.json"), "w") as fh:
        json.dump({"scales": scales}, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
