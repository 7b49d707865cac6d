#!/usr/bin/env python3
"""Compare the generated query tables with a reference copy of the sf0.1
test tables.

    python3 perfbench/compare_testdata.py <sf0.1 dir> [--seed 1]

Generates the ``queries_sf0.1`` tables for the seed, then, on each data
set: the schema and shape of every table (row counts, column types, key
ranges, lineitems per order), every measured query's DuckDB oracle check
and result row count, and each query's median Spark wall over six
passes, each data set going first in three, after the check pass on
both.
Prints a Markdown table per part. Writes only under ``.perfbench_work/``
in the checkout and removes it.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Shape statistics: (label, SQL over the DuckDB views of one data set).
SHAPE = [
    ("lineitem per order: orders with lines, mean, max",
     "SELECT count(*), round(avg(n), 3), max(n) FROM "
     "(SELECT count(*) n FROM lineitem GROUP BY l_orderkey)"),
    ("l_orderkey min/max, l_shipdate min/max",
     "SELECT min(l_orderkey), max(l_orderkey), min(l_shipdate)::DATE, "
     "max(l_shipdate)::DATE FROM lineitem"),
    ("o_orderdate min/max, distinct o_custkey",
     "SELECT min(o_orderdate)::DATE, max(o_orderdate)::DATE, "
     "count(DISTINCT o_custkey) FROM orders"),
    ("l_extendedprice avg, revenue sum",
     "SELECT round(avg(l_extendedprice), 1), "
     "round(sum(l_extendedprice * (1 - l_discount)), -3) FROM lineitem"),
    ("events: users, avg value, span (days)",
     "SELECT count(DISTINCT user_id), round(avg(value), 2), "
     "date_diff('day', min(ts), max(ts)) FROM events"),
    ("documents: avg chars, exact-duplicate texts",
     "SELECT round(avg(n_chars), 1), count(*) - count(DISTINCT text) FROM documents"),
]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("reference")
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    sys.path.insert(1, ROOT)
    import datagen
    import workloads
    from etl_airbnb_mex_spark.oracle import compare_query, duckdb_connection
    from etl_airbnb_mex_spark.queries import REGISTRY, _load
    from etl_airbnb_mex_spark.session import get_spark

    work = os.path.join(ROOT, ".perfbench_work", f"compare-{os.getpid()}")
    gen = os.path.join(work, "tables")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        datagen.write_tables(gen, args.seed)
        sets = {"reference": args.reference, f"generated (seed {args.seed})": gen}
        labels = list(sets)

        print("| table | " + " | ".join(labels) + " |\n|---|---|---|")
        for name in sorted(os.listdir(gen)):
            cells = []
            for d in sets.values():
                path = os.path.join(d, name)
                f = pq.ParquetFile(path)
                types = ", ".join(f"{x.name} {x.type}" for x in f.schema_arrow)
                cells.append(f"{f.metadata.num_rows} rows, "
                             f"{os.path.getsize(path)} B, "
                             f"{f.metadata.num_row_groups} row groups: {types}")
            print(f"| {name[:-8]} | " + " | ".join(cells) + " |")

        cons = {k: duckdb_connection(d) for k, d in sets.items()}
        print("\n| statistic | " + " | ".join(labels) + " |\n|---|---|---|")
        for label, sql in SHAPE:
            print(f"| {label} | " + " | ".join(
                ", ".join(map(str, c.execute(sql).fetchone()))
                for c in cons.values()) + " |")

        _load()
        spark = get_spark(app_name="perfbench-compare")
        names = workloads.QUERIES_SF01 + ["flagship_topn_pct"]
        checks = {(n, k): compare_query(spark, d, n, cons[k])
                  for k, d in sets.items() for n in names}
        walls: dict[tuple, list[float]] = {key: [] for key in checks}
        # The second run of a query runs on warmer caches than the first,
        # so the data sets take turns going first.
        for i in range(6):
            for n in names:
                for k, d in list(sets.items())[::1 if i % 2 else -1]:
                    t = time.perf_counter()
                    REGISTRY[n].spark(spark, d).toArrow()
                    walls[n, k].append(time.perf_counter() - t)
        spark.stop()
        rows = {n: {k: (checks[n, k].ok, checks[n, k].spark_rows,
                        statistics.median(walls[n, k])) for k in sets}
                for n in names}
        print("\n| query | " + " | ".join(
            f"{k}: oracle, rows, Spark wall" for k in labels) + " |\n|---|---|---|")
        for name, per in rows.items():
            print(f"| `{name}` | " + " | ".join(
                f"{'ok' if ok else 'MISMATCH'}, {n}, {w:.3f} s"
                for ok, n, w in per.values()) + " |")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
