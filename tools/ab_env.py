#!/usr/bin/env python
"""Interleaved A/B of engine constants and runtime Spark confs in one
session.

CPU steal on a shared VM drifts within minutes, so two sequential
sessions measure the host, not the change. Both arms run inside ONE
session, alternating per query per round, and per-arm minima are
reported. The variant arm changes either or both of:

- the module constants the driver fast paths read at call time
  (operators.graph.DRIVER_MAX_EDGES,
  plans.queries_advanced.PAGERANK_DRIVER_MAX_EDGES, ...): ``--set``;
- runtime-settable Spark SQL confs: ``--conf``.

Usage:
  python tools/ab_env.py -k 3 [--set module.NAME=VALUE ...]
      [--conf key=value ...] name...

``module`` is relative to the package and VALUE a Python literal, e.g.
``--set operators.graph.DRIVER_MAX_EDGES=0``; a conf value is a string,
e.g. ``--conf spark.sql.shuffle.partitions=8``. The "base" arm keeps
the constants' and confs' current values; the "variant" arm sets the
given ones.
"""
from __future__ import annotations

import argparse
import ast
import importlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from relational_query_engine_sql_spark import plans
from relational_query_engine_sql_spark.session import get_spark


def _target(key: str) -> tuple:
    mod, name = key.rsplit(".", 1)
    module = importlib.import_module(f"relational_query_engine_sql_spark.{mod}")
    if not hasattr(module, name):
        raise SystemExit(f"no constant {name} in {module.__name__}")
    return module, name


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("-k", type=int, default=3)
    ap.add_argument("--set", action="append", default=[], dest="sets")
    ap.add_argument("--conf", action="append", default=[], dest="confs")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    variant = {
        _target(k): ast.literal_eval(v)
        for k, v in (kv.split("=", 1) for kv in args.sets)
    }
    base = {t: getattr(*t) for t in variant}
    conf_variant = dict(kv.split("=", 1) for kv in args.confs)

    spark = get_spark(app_name="ab_env")
    conf_base = {k: spark.conf.get(k, None) for k in conf_variant}
    plans.get("a1_pricing_summary").fn(spark, args.sf).count()
    spark.range(64).repartition(64).mapInPandas(
        lambda it: it, "id long").count()
    warm = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    for n in args.names:
        try:
            plans.get(n).fn(spark, warm).count()
        except Exception as ex:
            print(f"warm FAIL {n}: {ex}", file=sys.stderr)
    spark.catalog.clearCache()

    def apply(values: dict, confs: dict) -> None:
        for (module, name), v in values.items():
            setattr(module, name, v)
        for k, v in confs.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    arms = (
        ("base", base, conf_base),
        ("variant", variant, conf_variant),
    )
    best: dict[str, dict[str, float]] = {"base": {}, "variant": {}}
    for rep in range(args.k):
        for n in args.names:
            for arm, values, confs in arms:
                apply(values, confs)
                spark.catalog.clearCache()
                spark.sparkContext.setJobDescription(f"{arm}:{n}")
                t0 = time.perf_counter()
                try:
                    plans.get(n).fn(spark, args.sf).count()
                    took = round(time.perf_counter() - t0, 3)
                    cur = best[arm]
                    if n not in cur or took < cur[n]:
                        cur[n] = took
                    print(f"run{rep} {arm} {n} {took}s",
                          file=sys.stderr, flush=True)
                except Exception as ex:
                    print(f"FAIL {arm} {n}: {type(ex).__name__}: {ex}"[:300],
                          file=sys.stderr)
                    best[arm].setdefault(n, float("nan"))
    apply(base, conf_base)
    print(json.dumps(best))
    spark.stop()


if __name__ == "__main__":
    main()
