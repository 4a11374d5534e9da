"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set fleet-wide on a real
cluster: AQE on (runtime shuffle-partition coalescing + skew-join
handling), Arrow for any pandas interchange, UTC session timezone so
results compare bit-for-bit against the DuckDB oracle, and shuffle
partitions sized to cores rather than the 200 default (on a 1000-executor
cluster this would instead be ~2-3x total cores, or left to AQE's
coalescing with a high initial value).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

# Most actions one ``run_independent`` call keeps in flight.
_MAX_OVERLAP = 4


def get_spark(
    app_name: str = "relational_query_engine_sql_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Right-size shuffles for local mode; a cluster deployment would
        # raise this and let AQE coalesce down.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        # AQE: runtime re-planning — coalesce small shuffle partitions,
        # convert to broadcast when runtime stats allow, split skewed
        # partitions. Essential at 100 TB, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas_udf / toPandas interchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Managed tables (bucketed writes) land in /tmp, never the repo.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", f"/tmp/spark-warehouse-{os.getuid()}"
            ),
        )
        # Quiet + lean for headless runs.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated-code cache (static, one per JVM). Spark keeps 100
        # compiled classes, but one round of the perfbench trade_write
        # mix compiles ~178 and corpus_dedup ~160, and bench.py's
        # 130-query headline ~1,650, so every warm round evicted and
        # recompiled nearly all of them, each restarting in the JVM
        # interpreter. 2048 holds the headline: a second sf0.001 pass
        # of it recompiled 22 classes, against 1,460 with 1000 entries.
        # The JVM unloaded none of the evicted classes in those runs, so
        # keeping them costs no more Metaspace than the churn did.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
    )
    # Local mode puts driver AND all executor threads in one JVM —
    # Spark's 1g default heap GC-thrashes under a 32-thread shuffle and
    # OOMs on shingle-scale intermediates. The target hosts have
    # 128 GiB; 24g keeps long multi-query sessions (bench, driver
    # correctness pass) out of GC pressure as cached panels and
    # localCheckpoint blocks accumulate. Override with
    # $SPARK_DRIVER_MEMORY. (Only effective for the process that
    # CREATES the JVM — set before first getOrCreate.)
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_independent(spark: SparkSession, *thunks: Callable[[], Any]) -> list:
    """Run independent Spark actions concurrently and return their
    results in argument order.

    Actions are only sequential because driver code calls them
    sequentially; overlapping independent ones lets each job's task
    tail back-fill the executors the others leave idle. The thunks run
    on ``min(4, len(thunks))`` threads, each with the caller's Spark
    local properties (job group included) and session tags.

    If a thunk raises, thunks already running finish, thunks not yet
    started never start, and the first exception is re-raised: no job
    outlives the call.
    """
    if not thunks:
        return []
    failed = threading.Event()
    errors: list[BaseException] = []

    def guarded(thunk: Callable[[], Any]) -> Any:
        if failed.is_set():
            return None
        try:
            return thunk()
        except BaseException as e:
            errors.append(e)
            failed.set()
            return None

    run = inheritable_thread_target(spark)(guarded)
    workers = min(_MAX_OVERLAP, len(thunks))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(run, t) for t in thunks]
    if errors:
        raise errors[0]
    return [f.result() for f in futures]
