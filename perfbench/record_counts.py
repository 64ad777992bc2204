#!/usr/bin/env python3
"""Record the row counts of the registry queries that have no oracle SQL,
over the generated tables, into recorded_counts.json. run.py checks those
queries against this file; re-record after datagen.py changes. It then
checks every registry query, not only those a timed pass samples, against
DuckDB and prints each mismatch.

    python3 perfbench/record_counts.py
"""
import json
import os
import shutil
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    cp, _ = build.build()
    data_dir, stamp = run.ensure_tables()
    work = os.path.join(run.OUT, "work")
    counts = {}
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    whole = ",".join(["10000"] * 4)   # every query of every module, one pass
    records = [run.run_jvm(cp, "registry", data_dir, work, run.CPUS, 0, whole, 1)]
    for op in records[0]["ops"]:
        if op["name"] not in records[0]["oracle_sql"] and "rows" in op:
            counts[op["name"]] = int(op["rows"])
    with open(os.path.join(HERE, "recorded_counts.json"), "w") as f:
        json.dump({"data": stamp, "counts": dict(sorted(counts.items()))}, f, indent=1)
        f.write("\n")
    print("recorded", counts)
    problems = [p for r in records for p in run.check_registry(r, data_dir, stamp, work)]
    shutil.rmtree(work, ignore_errors=True)
    print(f"{sum(len(r['ops']) for r in records)} queries, {len(problems)} mismatches")
    for p in problems:
        print("  " + p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
