#!/usr/bin/env python
"""Min-of-k timer for a subset of registry queries.

Usage: python tools/time_queries.py [-k N] [--sf DIR] name [name ...]
Prints one JSON line {name: best_sec, ...} plus per-run details on
stderr, each with the number of classes whole-stage codegen compiled
during the run (0 once the plan's generated code is cached) and the
number of Spark jobs it launched, counted by a job group per run. Job
count is the fixed-cost lens: at bench scale a ~50-100 ms scheduler
floor per job means a 30-job scenario pays ~2-3 s before any data
work. Same methodology as bench.py (count() action, clearCache
between queries, warm pass at sf0.001 first).
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from relational_query_engine_sql_spark import plans
from relational_query_engine_sql_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("-k", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("--conf", action="append", default=[],
                    help="extra k=v Spark conf (repeatable)")
    args = ap.parse_args()

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark(app_name="time_queries", extra_conf=extra or None)
    plans.get("a1_pricing_summary").fn(spark, args.sf).count()
    spark.range(64).repartition(64).mapInPandas(
        lambda it: it, "id long").count()
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if not args.no_warm and os.path.isdir(warm_dir):
        for n in args.names:
            try:
                plans.get(n).fn(spark, warm_dir).count()
            except Exception as ex:
                print(f"warm FAIL {n}: {ex}", file=sys.stderr)
        spark.catalog.clearCache()

    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount
    )
    sc = spark.sparkContext
    best: dict[str, float] = {}
    for rep in range(args.k):
        for n in args.names:
            spark.catalog.clearCache()
            group = f"time-{n}-{rep}"
            sc.setJobGroup(group, f"time:{n}")
            c0 = compiles()
            t0 = time.perf_counter()
            try:
                plans.get(n).fn(spark, args.sf).count()
                took = round(time.perf_counter() - t0, 3)
                if n not in best or took < best[n]:
                    best[n] = took
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                print(f"run{rep} {n} {took}s compiles={compiles() - c0}"
                      f" jobs={jobs}", file=sys.stderr, flush=True)
            except Exception as ex:
                print(f"FAIL {n}: {type(ex).__name__}: {ex}"[:300],
                      file=sys.stderr)
                best.setdefault(n, float("nan"))
            finally:
                sc.setJobGroup(None, None)
    print(json.dumps(best))
    spark.stop()


if __name__ == "__main__":
    main()
