"""``sources.write_parquet``: both arms write the same table.

Every case runs twice, once at the default size gate (small frames are
collected as Arrow and written by pyarrow on the driver) and once with
``catalog.DRIVER_WRITE_MAX_BYTES`` set to 0 (Spark's writer). A file's
``created_by`` footer field names its writer (``parquet-cpp-arrow`` or
``parquet-mr``), which tells the tests which arm ran.

- Rows of every column type the engine writes, with nulls and with
  zero rows, read back equal with ``spark.read.schema(...)``, in the
  same number of files (rows already on the driver: one file).
- ``compact(4)`` and a range-clustered ``compact`` log the same
  per-file stats.
- The txnlog data-file schema fallback sees the same Spark types.
- A cached read of a ``ParquetTable`` path sees rows a driver-arm
  ``append`` added.
- ``mode="error"`` onto an existing directory raises.
"""

from __future__ import annotations

import datetime as dt
import glob
import math
import os
from decimal import Decimal

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from relational_query_engine_sql_spark.operators.mutation import ParquetTable
from relational_query_engine_sql_spark.operators.txnlog import TxnLogTable
from relational_query_engine_sql_spark.sources import (
    catalog,
    local_frame,
    write_parquet,
)
from relational_query_engine_sql_spark.sources.txnlog_stream import (
    _log,
    _table_schema,
)

ARMS = {"driver": catalog.DRIVER_WRITE_MAX_BYTES, "spark": 0}

TYPES = T.StructType(
    [
        T.StructField("i", T.IntegerType()),
        T.StructField("b", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("f", T.BooleanType()),
        T.StructField("day", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("m", T.DecimalType(27, 6)),
        T.StructField("a", T.ArrayType(T.DoubleType())),
    ]
)
ROWS = [
    (
        1,
        2**40,
        "a",
        1.5,
        True,
        dt.date(1999, 9, 9),
        dt.datetime(2020, 2, 29, 23, 59, 59, 123456),
        dt.datetime(2020, 2, 29, 23, 59, 59, 123456),
        Decimal("123456789.000001"),
        [1.0, float("nan"), None],
    ),
    (
        -7,
        -(2**62),
        "ü,\n",
        float("nan"),
        False,
        dt.date(1000, 1, 1),
        dt.datetime(1969, 12, 31, 23, 0),
        dt.datetime(1850, 6, 1, 12, 0),
        Decimal("-0.5"),
        [],
    ),
    (None, 3, "x", -0.0, True, dt.date(1970, 1, 1))
    + (None, None, Decimal("1"), None),
    (None,) * 10,
]


def _set_arm(monkeypatch, arm: str) -> None:
    monkeypatch.setattr(catalog, "DRIVER_WRITE_MAX_BYTES", ARMS[arm])


def _files(path: str) -> list[str]:
    pattern = os.path.join(path, "**", "*.parquet")
    return sorted(glob.glob(pattern, recursive=True))


def _written_by(path: str) -> set[str]:
    return {
        "driver"
        if pq.ParquetFile(f).metadata.created_by.startswith("parquet-cpp")
        else "spark"
        for f in _files(path)
    }


def _canon(rows) -> list:
    """Rows as sortable tuples; NaN (which equals nothing) as a tag."""

    def v(x):
        if isinstance(x, float) and math.isnan(x):
            return ("nan",)
        if isinstance(x, list):
            return tuple(v(e) for e in x)
        return (type(x).__name__, x) if x is not None else ()

    return sorted((tuple(v(x) for x in r) for r in rows), key=repr)


@pytest.mark.parametrize("n", [len(ROWS), 0], ids=["rows", "empty"])
def test_type_matrix_reads_back_equal_on_both_arms(
    spark, tmp_path, monkeypatch, n
):
    local = local_frame(spark, ROWS[:n], TYPES)
    want = _canon(local.collect())
    counts = {}
    for arm in ARMS:
        _set_arm(monkeypatch, arm)
        for name, src in [("local", local), ("spread", local.repartition(2))]:
            path = str(tmp_path / arm / name)
            write_parquet(src, path, "error")
            assert _written_by(path) == {arm}
            got = spark.read.schema(TYPES).parquet(path).collect()
            assert _canon(got) == want, (arm, name)
            counts[arm, name] = len(_files(path))
    assert counts["driver", "spread"] == counts["spark", "spread"], counts
    # rows already on the driver all read partition 0: one file
    assert counts["driver", "local"] == 1, counts


@pytest.mark.parametrize(
    "build",
    [
        # partition 0 holds no rows: Spark still writes its (empty) file
        lambda s: s.range(0, 100, 1, 4).filter("id >= 30"),
        lambda s: s.range(0, 100, 1, 4).repartition(3, "id"),
        lambda s: s.range(0).withColumn("x", F.lit("x")),
    ],
    ids=["empty-first-partition", "shuffled", "no-partitions"],
)
def test_file_layout_matches_spark(spark, tmp_path, monkeypatch, build):
    layout = {}
    for arm in ARMS:
        _set_arm(monkeypatch, arm)
        path = str(tmp_path / arm)
        write_parquet(build(spark), path, "error")
        assert _written_by(path) == {arm}
        assert os.path.exists(os.path.join(path, "_SUCCESS"))
        layout[arm] = [
            (os.path.basename(f)[:10], pq.read_table(f).to_pylist())
            for f in _files(path)
        ]
    assert layout["driver"] == layout["spark"]


def _live_stats(t: TxnLogTable) -> list:
    return sorted(
        (m["rows"], repr(m.get("stats"))) for m in t._live().values()
    )


def test_compaction_stats_match_on_both_arms(spark, tmp_path, monkeypatch):
    rows = [(k, f"s{k % 17}", float(k % 11), k % 5 == 0) for k in range(400)]
    schema = "k long, s string, d double, f boolean"
    stats = {}
    for arm in ARMS:
        _set_arm(monkeypatch, arm)
        t = TxnLogTable(
            spark, str(tmp_path / arm), T._parse_datatype_string(schema), ["k"]
        )
        t.init(local_frame(spark, rows, schema).coalesce(1))
        t.compact(4)
        assert _written_by(t.path) == {arm}
        plain = _live_stats(t)
        t.compact(4, cluster_by=["k"])
        stats[arm] = (plain, _live_stats(t))
        assert len(stats[arm][0]) == len(stats[arm][1]) == 4
    assert stats["driver"] == stats["spark"]


def test_txnlog_schema_fallback_sees_same_types(spark, tmp_path, monkeypatch):
    types = {}
    for arm in ARMS:
        _set_arm(monkeypatch, arm)
        t = TxnLogTable(spark, str(tmp_path / arm), TYPES, ["b"])
        t.init(local_frame(spark, ROWS[:3], TYPES))
        assert _written_by(t.path) == {arm}
        # a commit-log reader with no logged schema falls back to a
        # data file's own schema
        types[arm] = _table_schema(_log(t.path))
    assert types["driver"] == types["spark"]
    assert types["driver"].fieldNames() == TYPES.fieldNames()


@pytest.mark.parametrize("arm", ARMS)
def test_cached_read_sees_append(spark, tmp_path, monkeypatch, arm):
    _set_arm(monkeypatch, arm)
    schema = T._parse_datatype_string("k long, v string")
    t = ParquetTable(spark, str(tmp_path / "t"), schema, ["k"])
    t.init(local_frame(spark, [(1, "a"), (2, "b")], schema))
    cached = spark.read.schema(schema).parquet(t.path).cache()
    try:
        assert cached.count() == 2
        t.append(local_frame(spark, [(3, "c")], schema))
        assert _written_by(t.path) == {arm}
        assert sorted(r.k for r in cached.collect()) == [1, 2, 3]
    finally:
        cached.unpersist()


@pytest.mark.parametrize("arm", ARMS)
def test_error_mode_onto_existing_directory_raises(
    spark, tmp_path, monkeypatch, arm
):
    _set_arm(monkeypatch, arm)
    path = str(tmp_path / "t")
    df = local_frame(spark, [(1,)], "k long")
    write_parquet(df, path, "error")
    before = _files(path)
    with pytest.raises(Exception, match="already exists"):
        write_parquet(df, path, "error")
    assert _files(path) == before


def test_row_multiplying_plan_takes_spark_writer(spark, tmp_path):
    # the size estimate of an explode is its input's, scaled by row
    # width: 3 rows in, 3,000 out, estimated far under the gate
    df = spark.range(3).select(F.explode(F.sequence(F.lit(1), F.lit(1000))))
    path = str(tmp_path / "t")
    write_parquet(df, path, "error")
    assert _written_by(path) == {"spark"}
    assert spark.read.parquet(path).count() == 3000
