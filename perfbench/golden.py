#!/usr/bin/env python3
"""Regenerate perfbench/golden.json: the canonical result hash of every
query the query workload runs, each checked once against its DuckDB oracle
SQL (SparkEntry.oracleSql) on the same fixture tables by tools/check.py.

    python3 perfbench/golden.py

Writes nothing when tools/check.py finds any result that differs from its
oracle."""
import json
import os
import shutil
import sys
import time

import run


def main():
    check = run.oracle_check()
    path = os.path.join(run.HERE, "golden.json")
    with open(path) as fh:
        golden = json.load(fh)
    sf_dir = run.fixture_dir(golden["sf"])
    cp, _, _ = run.build()
    work = os.path.join(run.BUILD, "work", "golden")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_dir = os.path.join(work, "results")
    rec = run.run_jvm(cp, "query_mix", 0, 0, 0, [sf_dir, result_dir], work,
                      time.monotonic() + run.RUN_LIMIT_S)
    if "error" in rec:
        sys.exit(rec["error"])
    with open(os.path.join(result_dir, "oracle_sql.json"), "w") as fh:
        json.dump(rec["oracle_sql"], fh)
    if check.main(sf_dir, result_dir) != 0:
        sys.exit("results differ from their oracle; golden.json unchanged")
    hashes = run.result_hashes(result_dir, rec["queries"])
    missing = [n for n, h in hashes.items() if h is None]
    if missing:
        sys.exit(f"no result for {missing}; golden.json unchanged")
    golden["queries"] = {
        n: dict(h, oracle="match" if n in rec["oracle_sql"] else "none")
        for n, h in hashes.items()}
    with open(path, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
