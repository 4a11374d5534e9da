"""Table catalog: load the driver's parquet tables.

The reference has no file readers — data arrives row-at-a-time over
REST (``/root/reference/src/routes/stocks.js:126-155``). Our engine's
canonical source is columnar parquet: pushdown + pruning come free.
A CSV ingest path for OHLCV (the reference's implied ``SP500History.csv``
bulk source, ``.gitignore:5``) lives in ``csv_ingest.py``.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import DRIVER_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per session: (path, nanosAsLong) -> (file stamp, inferred schema).
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _stamp(path: str) -> tuple | None:
    """What an inferred schema stays valid for: a file's size and
    mtime_ns, or for a directory the sorted listing of its data files
    (the ones Spark reads: no ``_``/``.`` prefix) with theirs. None when
    there is no local file to stamp: the schema is then not kept."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return (st.st_size, st.st_mtime_ns)
        listing = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if not f.startswith(("_", ".")):
                    st = os.stat(os.path.join(root, f))
                    listing.append(
                        (os.path.join(root, f), st.st_size, st.st_mtime_ns)
                    )
        return tuple(sorted(listing)) or None
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    stamp = _stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    key = (path, nanos)
    cache = _SCHEMAS.setdefault(spark, {})
    hit = cache.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    cache[key] = (stamp, df.schema)
    return df


def local_frame(
    spark: SparkSession, rows: Iterable, schema: T.StructType | str
) -> DataFrame:
    """Driver-built rows as a frame, via Arrow.

    ``spark.createDataFrame(list, schema)`` parallelizes the rows as a
    Python RDD, so every action on even a 2-row frame forks Python
    worker tasks and the plan carries a ``Scan ExistingRDD`` with
    unknown size. An Arrow table of exactly
    ``to_arrow_schema(schema)`` (nothing inferred) lands in the JVM as
    a ``LocalRelation`` instead: no Python worker, a size estimate the
    planner can broadcast on, and zero rows become an empty relation
    that Catalyst folds away. Values go through ``schema.toInternal``
    first, so dates and timestamps mean what they mean to
    ``createDataFrame``. ``schema`` is a ``StructType`` or a DDL
    string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*(schema.toInternal(r) for r in rows)))
    if not cols:
        cols = [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver table. Parquet scans get predicate pushdown,
    column pruning, and min/max row-group skipping from Catalyst — the
    Spark analogs of the reference's b-tree indexes (SURVEY.md §4).

    The events table's ``ts`` physical type has varied across driver
    data generations: TIMESTAMP(NANOS) (Spark reads only as long via
    ``nanosAsLong``; truncate ns→µs exactly like DuckDB's cast — values
    are post-1970 so floor == trunc) or TIMESTAMP(MICROS) without
    timezone (reads as TIMESTAMP_NTZ). Normalize both to the session
    TimestampType (UTC session ⇒ value-identical) so every downstream
    plan sees one stable schema.

    Schema inference is a Spark job per read, so the inferred schema is
    remembered per session and reused (``spark.read.schema(s)``) for a
    later read of the same path under the same ``nanosAsLong`` setting.
    Any change to the file's size or mtime — for a directory, any
    added, removed or rewritten data file — invalidates it and the next
    read infers again.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        # The NTZ→TimestampType normalization below is value-identical
        # ONLY under a UTC session timezone; on any other session the
        # cast re-interprets wall-clock values and every timestamp
        # silently shifts by the local offset. Enforce the invariant
        # instead of assuming it (sessions built by get_spark set UTC).
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise RuntimeError(
                f"events timestamps require spark.sql.session.timeZone="
                f"UTC (session has {tz!r}); build the session with "
                "session.get_spark or set the conf before loading"
            )
        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def table_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count from parquet footer metadata — no Spark job.

    This is the statistic a production catalog (Delta/Iceberg/Hive
    stats) hands every planner for free; algorithms that size
    themselves to the table (LSH band geometry, sample fractions)
    should consume it instead of running a count() pass over the data.
    Returns None when the path isn't locally readable (caller falls
    back to a count job).
    """
    import glob as _glob

    path = f"{sf_dir}/{name}.parquet"
    try:
        import pyarrow.parquet as pq

        files = [path] if os.path.isfile(path) else sorted(
            _glob.glob(f"{path}/*.parquet")
        )
        if not files:
            return None
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


def spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Widen an under-partitioned scan to the cluster's parallelism.

    A small single parquet file yields ONE input split (one task — 31
    of 32 local cores idle through an explode-heavy pipeline). At real
    scale the scan already produces thousands of splits and this is a
    no-op: we only repartition when the scan came back narrower than
    defaultParallelism, never force a plan-wide shuffle on data that is
    already spread.

    The round-robin repartition sorts every row inside the scan task
    first (``spark.sql.execution.sortBeforeRepartition``), so use it
    only before heavy narrow work, never right before an aggregate or
    distinct, whose own hash exchange spreads the rows anyway.
    """
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or DRIVER_TABLES)}


def register_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> None:
    """Register every driver table as a temp view for the SQL API."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
