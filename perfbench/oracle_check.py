#!/usr/bin/env python3
"""Cross-checks the outputs behind perfbench/expect.json against DuckDB.

    python3 perfbench/run.py --record      # writes .bench_build/record/
    python3 perfbench/oracle_check.py

For every recorded query that has an oracle in SparkEntry.oracleSql, runs
the oracle SQL in DuckDB over the same bundled tables and compares column
names, row count and sorted row values with the rules of tools/check.py.
Needs the duckdb and pyarrow Python packages; the benchmark run does not.
"""
import glob
import importlib.util
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = {"batch_release": os.path.join(HERE, "data", "sf0.001")}


def check_rules():
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    argv, sys.argv = sys.argv, sys.argv[:1]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return mod.rows_of


def main():
    rows_of = check_rules()
    fails = checked = 0
    for workload, data in DATA.items():
        raw_path = os.path.join(ROOT, ".bench_build", "record", workload + ".json")
        if not os.path.exists(raw_path):
            sys.exit("no record of %s; run perfbench/run.py --record first" % workload)
        oracle = json.load(open(raw_path)).get("oracle", {})
        con = duckdb.connect()
        for f in glob.glob(os.path.join(data, "*.parquet")):
            t = os.path.basename(f)[:-len(".parquet")]
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, f))
        for name, sql in sorted(oracle.items()):
            files = glob.glob(os.path.join(ROOT, ".bench_build", "record", workload, name, "*.parquet"))
            got = rows_of(pq.read_table(files[0]))
            exp = rows_of(con.execute(sql).fetch_arrow_table())
            checked += 1
            if got != exp:
                fails += 1
                print("FAIL %s/%s: spark and duckdb differ" % (workload, name))
            else:
                print("PASS %s/%s: rows=%d" % (workload, name, len(got[1])))
    print("== %d oracle checks, %d failures ==" % (checked, fails))
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
