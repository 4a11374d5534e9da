"""Table catalog: load the driver's parquet tables.

The reference has no file readers — data arrives row-at-a-time over
REST (``/root/reference/src/routes/stocks.js:126-155``). Our engine's
canonical source is columnar parquet: pushdown + pruning come free.
A CSV ingest path for OHLCV (the reference's implied ``SP500History.csv``
bulk source, ``.gitignore:5``) lives in ``csv_ingest.py``.
"""

from __future__ import annotations

import os
import re
import uuid
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


def collect_at_most(df: DataFrame, cap: int):
    """``df``'s rows as an Arrow table when it has at most ``cap`` of
    them, else None: the one collect that both decides a driver gate
    and delivers the rows. ``cap <= 0`` runs no job.

    ``limit(cap + 1).toArrow()`` is one Spark job; ``collect()`` of the
    same limit can run ``executeTake``, which scans partitions in
    growing rounds (3 jobs over a checkpointed 8-partition frame).
    Above the gate the wasted transfer is bounded at ``cap + 1``
    rows."""
    if cap <= 0:
        return None
    table = df.limit(cap + 1).toArrow()
    return table if table.num_rows <= cap else None


# ``write_parquet`` writes on the driver when the optimizer's size
# estimate (bytes) is below this, read at call time, so 0 sends every
# write to Spark's writer. Median ms of repeated overwrites of
# each sf0.1 table at local[4] on a 4-vCPU host:
#
#   table     size estimate  Spark writer  driver arm
#   nation         0.003 MB            98          41
#   customer       0.316 MB           104          46
#   orders         2.724 MB           180         177
#   lineitem      10.819 MB           786         760
#
# Spark's writer pays a fixed ~60 ms of writer and committer set-up;
# the driver arm's cost grows with the rows it moves through one
# process, and the two meet near orders' size. Past that the driver arm
# gains nothing and holds the whole table in driver memory, so the
# gate sits just above. A host with more cores writes large tables in
# parallel and reaches parity sooner.
DRIVER_WRITE_MAX_BYTES = 4 * 1024 * 1024

# Parquet column types both writers encode so that Spark reads back the
# same values, in arrays and structs; anything else (maps, variant,
# intervals, void, UDTs) takes Spark's writer.
_ARROW_WRITABLE = (
    T.BooleanType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
    T.StringType,
    T.BinaryType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
)
# Plan nodes that can emit more rows than they read. The size estimate
# scales their child's size by row width only, so under one of these a
# small estimate says nothing about what a collect would pull.
_ROW_MULTIPLYING = re.compile(
    r"^[\s:+|-]*(Generate|MapIn\w+|FlatMap\w+|\w*EvalPythonUDTF)\b",
    re.MULTILINE,
)
_PID = "__write_partition_id"
# Rows whose distinct values decide a column's dictionary encoding.
_DICT_SAMPLE = 10_000


def _arrow_writable(dt: T.DataType) -> bool:
    if isinstance(dt, T.ArrayType):
        return _arrow_writable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_arrow_writable(f.dataType) for f in dt.fields)
    return type(dt) in _ARROW_WRITABLE


def _dictionary_columns(table) -> list[str]:
    """Flat columns worth dictionary-encoding: at most one distinct
    value per two rows among the first ``_DICT_SAMPLE``. Spark's
    parquet writer makes the same call from its first page, falling
    back to plain pages when the dictionary does not pay; pyarrow would
    dictionary-encode unique columns too, which makes a customer-sized
    file ~25% larger than Spark's instead of ~10% smaller."""
    import pyarrow as pa
    import pyarrow.compute as pc

    head = table.slice(0, _DICT_SAMPLE)
    return [
        name
        for name, col in zip(head.column_names, head.columns)
        if not pa.types.is_nested(col.type)
        and 2 * pc.count_distinct(col, mode="all").as_py() <= len(col)
    ]


def write_arrow_file(table, path: str, schema: T.StructType) -> None:
    """One parquet file from an Arrow table, as Spark's writer makes
    it: snappy pages, dictionary pages only for low-cardinality columns,
    the Spark schema JSON under
    ``org.apache.spark.sql.parquet.row.metadata`` (Spark reads it back
    as the file's schema) and the writer version, which makes Spark
    read dates and timestamps as proleptic Gregorian, as pyarrow wrote
    them. No serialized Arrow schema (~2 KB a file for an 8-column
    table): readers take the types from the parquet schema, as they
    do for Spark's files."""
    import pyarrow.parquet as pq
    from pyspark import __version__

    meta = {
        b"org.apache.spark.sql.parquet.row.metadata": schema.json().encode(),
        b"org.apache.spark.version": __version__.encode(),
    }
    pq.write_table(
        table.replace_schema_metadata(meta),
        path,
        compression="snappy",
        use_dictionary=_dictionary_columns(table),
        store_schema=False,
    )


def write_parquet(
    df: DataFrame, path: str, mode: str, partition_by: Iterable[str] = ()
) -> None:
    """``df.write.mode(mode).partitionBy(*partition_by).parquet(path)``,
    on the driver when the frame is small. The inverse of
    :func:`local_frame`. ``mode`` is ``error`` (fail if ``path``
    exists) or ``append`` (add files).

    A Spark write job pays ~60 ms of file-writer and committer set-up
    however few rows it writes. The rows are collected as Arrow with
    their Spark partition id instead, and written with pyarrow, when
    there is no ``partition_by``, every column type is in
    ``_ARROW_WRITABLE``, the optimized plan has no row-multiplying node
    (``_ROW_MULTIPLYING``) and its size estimate (``sizeInBytes``, the
    figure that decides broadcast joins; reading it runs no job) is
    below ``DRIVER_WRITE_MAX_BYTES``. The estimate is the only bound
    on what the collect pulls: it can be low for a plan that grows its
    rows elsewhere, which is why the node check is there.

    The files are laid out as Spark lays them out: one
    ``part-<pid>-<uuid>-c000.snappy.parquet`` per non-empty partition
    plus always partition 0's (empty if it holds no rows), rows in
    partition order, then ``_SUCCESS``. So file counts and per-file
    contents are the same on both arms, with one exception: rows
    already on the driver (a ``LocalRelation`` plan, as from
    ``local_frame``) all read partition 0, because the optimizer folds
    the partition-id projection into the relation, and go to one file
    where Spark would slice them into up to one per core. The collect
    is itself one job, so the driver arm saves time per write, not
    jobs.

    Files are written under a ``_temporary-*`` directory of ``path``,
    which readers skip, and renamed into place once all are written.
    Cached plans that read ``path`` are refreshed, as Spark's writer
    refreshes them."""
    import numpy as np
    from pyspark.sql import functions as F

    plan = df._jdf.queryExecution().optimizedPlan()
    driver = (
        not partition_by
        and _arrow_writable(df.schema)
        and plan.stats().sizeInBytes() < DRIVER_WRITE_MAX_BYTES
        and not _ROW_MULTIPLYING.search(plan.treeString())
    )
    if not driver:
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        return
    if mode != "append" and os.path.exists(path):
        raise FileExistsError(f"path {path} already exists")
    table = df.withColumn(_PID, F.spark_partition_id()).toArrow()
    pids = table.column(_PID).to_numpy()
    data = table.drop_columns([_PID])
    starts = np.flatnonzero(np.diff(pids, prepend=-1)).tolist()
    pieces = {
        int(pids[a]): data.slice(a, b - a)
        for a, b in zip(starts, starts[1:] + [len(pids)])
    }
    pieces.setdefault(0, data.slice(0, 0))
    job = uuid.uuid4()
    staging = os.path.join(path, f"_temporary-{job.hex}")
    os.makedirs(staging)
    names = {p: f"part-{p:05d}-{job}-c000.snappy.parquet" for p in pieces}
    for pid, name in names.items():
        write_arrow_file(pieces[pid], os.path.join(staging, name), df.schema)
    for name in names.values():
        os.rename(os.path.join(staging, name), os.path.join(path, name))
    os.rmdir(staging)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    df.sparkSession.catalog.refreshByPath(path)


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
