#!/usr/bin/env python3
"""Record the pipelines workload's expected row counts.

    python3 perfbench/record_counts.py [--check]

Generates the pipeline tables, runs every listed query on Spark and its
DuckDB oracle (``mongo_hadoop_spark.oracle``) on the same files, and
requires the two to agree value for value.  Without ``--check`` the row
counts are written into perfbench/queries.json; with it, they are only
compared with the recorded ones.  Exits 1 on any disagreement.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def main() -> int:
    check_only = "--check" in sys.argv[1:]
    work = os.path.join(HERE, "_work", f"record-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    import common
    import wl_pipelines
    from mongo_hadoop_spark import operators
    from mongo_hadoop_spark.oracle import compare, duck_connection

    spec = wl_pipelines.load_spec()
    tables = os.path.join(work, "tables")
    os.makedirs(tables)
    for name, data in wl_pipelines.table_images(spec["sf"]).items():
        with open(os.path.join(tables, f"{name}.parquet"), "wb") as f:
            f.write(data)
    spark = common.start_spark(os.path.join(work, "spark"))
    queries, oracles = operators.all_queries(), operators.all_oracles()
    counts, bad = {}, 0
    try:
        for q in spec["iterative"] + spec["single_plan"]:
            con = duck_connection(tables)
            con.execute(f"SET temp_directory='{os.path.join(work, 'duck')}'")
            try:
                res = compare(q, queries[q](spark, tables), con.execute(oracles[q]).fetchdf())
            finally:
                con.close()
            print(res)
            counts[q] = res.rows_oracle
            recorded = spec["expected_rows"].get(q)
            if not res.ok or (check_only and recorded != res.rows_oracle):
                print(f"  recorded {recorded}, oracle {res.rows_oracle}")
                bad += 1
    finally:
        common.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if not check_only and not bad:
        spec["expected_rows"] = counts
        with open(wl_pipelines.QUERIES_JSON, "w") as f:
            json.dump(spec, f, indent=2)
            f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
