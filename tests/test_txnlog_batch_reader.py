"""``spark.read.format("txnlog")`` — the batch Data Source reader
(sources/txnlog_stream.py TxnLogBatchReader, Delta's
``spark.read.format("delta")`` parity). Property that matters: for
every committed version, the format reader returns EXACTLY what
``TxnLogTable.read(version)`` returns — through deletion vectors,
column mapping, time travel and a history that crosses a checkpoint —
while reading files executor-side as Arrow batches with no
TxnLogTable (and no library import) on the executors. The log itself
is read only through TxnLogTable: the source, batch reader and sink
share its protocol gates, and no other module names the log's
layout."""

from __future__ import annotations

import ast
import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from relational_query_engine_sql_spark.operators.txnlog import (
    CHECKPOINT_EVERY,
    TxnLogTable,
)
from relational_query_engine_sql_spark.sources.txnlog_stream import (
    TxnLogStreamDataSource,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("comment", T.StringType()),
        T.StructField("price", T.DoubleType()),
    ]
)


def _frame(spark, lo, hi, tag="c"):
    return spark.range(lo, hi).select(
        F.col("id"),
        F.concat(F.lit(tag), F.col("id")).alias("comment"),
        (F.col("id") * 1.5).alias("price"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    spark.dataSource.register(TxnLogStreamDataSource)
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["id"])
    t.init(_frame(spark, 0, 100))  # v0
    t.delete_keys_deferred(
        _frame(spark, 0, 100).filter(F.col("id") % 10 == 0).select("id")
    )  # v1: merge-on-read deletes
    t.rename_column("comment", "note")  # v2: column mapping
    t.append(
        _frame(spark, 100, 120, tag="n").withColumnRenamed(
            "comment", "note"
        )
    )  # v3
    return t


@pytest.fixture()
def long_table(spark, tmp_path):
    """13 commits, so v11 and v12 replay from the checkpoint at v10;
    deferred deletes land on both sides of it and a rename before."""
    spark.dataSource.register(TxnLogStreamDataSource)
    t = TxnLogTable(spark, str(tmp_path / "long"), SCHEMA, ["id"])
    t.init(_frame(spark, 0, 10))  # v0
    for i in range(1, 5):  # v1..v4
        t.append(_frame(spark, 10 * i, 10 * i + 10))
    t.delete_keys_deferred(
        _frame(spark, 0, 50).filter(F.col("id") % 7 == 0).select("id")
    )  # v5
    t.rename_column("comment", "note")  # v6
    for i in range(5, 9):  # v7..v10
        t.append(
            _frame(spark, 10 * i, 10 * i + 10, tag="n").withColumnRenamed(
                "comment", "note"
            )
        )
    t.delete_keys_deferred(
        _frame(spark, 0, 90).filter(F.col("id") % 5 == 1).select("id")
    )  # v11
    t.append(
        _frame(spark, 90, 95, tag="m").withColumnRenamed("comment", "note")
    )  # v12
    assert t.current_version() == 12
    assert os.path.exists(t._ckpt_path(CHECKPOINT_EVERY))
    return t


def _fmt(spark, path, **opts):
    r = spark.read.format("txnlog").option("path", path)
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def test_batch_reader_matches_table_read_at_every_version(
    spark, table, long_table
):
    for t in (table, long_table):
        for v in t.versions():
            want = sorted(t.read(v).collect())
            got = sorted(_fmt(spark, t.path, versionAsOf=v).collect())
            assert got == want, f"format reader diverged at v{v} of {t.path}"


def test_batch_reader_current_applies_dv_and_mapping(spark, table):
    cur = _fmt(spark, table.path)
    assert cur.columns == ["id", "note", "price"]
    assert cur.count() == 110  # 100 - 10 DV-deleted + 20 appended
    assert cur.filter(F.col("id") == 10).count() == 0
    assert cur.filter(F.col("id") == 7).first()["note"] == "c7"


def test_batch_reader_timestamp_as_of(spark, table):
    with open(table._log_path(1), encoding="utf-8") as f:
        ts1 = json.load(f)["ts"]
    with open(table._log_path(2), encoding="utf-8") as f:
        ts2 = json.load(f)["ts"]
    mid = (ts1 + ts2) / 2  # between the DV delete and the rename
    df = _fmt(spark, table.path, timestampAsOf=mid)
    assert df.columns == ["id", "comment", "price"]  # pre-rename names
    assert df.count() == 90  # DV already applied


def test_batch_reader_rejects_both_time_travel_options(spark, table):
    with pytest.raises(Exception, match="not both"):
        _fmt(spark, table.path, versionAsOf=0, timestampAsOf=1.0).count()


def test_batch_reader_refuses_composite_key_dv(spark, tmp_path):
    spark.dataSource.register(TxnLogStreamDataSource)
    sch = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    t = TxnLogTable(spark, str(tmp_path / "ck"), sch, ["a", "b"])
    df = spark.range(0, 20).select(
        F.col("id").alias("a"),
        (F.col("id") * 2).alias("b"),
        (F.col("id") * 1.0).alias("v"),
    )
    t.init(df)
    t.delete_keys_deferred(df.filter(F.col("a") < 3).select("a", "b"))
    # without DVs it reads fine; with a composite-key DV it must refuse
    with pytest.raises(Exception, match="composite key"):
        _fmt(spark, t.path).count()
    # the library path handles it (one broadcast anti-join)
    assert t.read().count() == 17


def _commit_protocol(table, min_reader, min_writer):
    """Hand-commit a metadata action that raises the table's protocol
    beyond what this implementation supports."""
    base = table.current_version()
    entry = {
        "version": base + 1,
        "op": "future_feature",
        "ts": 0,
        "actions": [
            {
                "metadata": {
                    "schema": table.schema.jsonValue(),
                    "cmap": {
                        "map": {},
                        "retired": [],
                        "protocol": {
                            "min_reader": min_reader,
                            "min_writer": min_writer,
                        },
                    },
                }
            }
        ],
    }
    with open(table._log_path(base + 1), "w", encoding="utf-8") as f:
        json.dump(entry, f)


def test_batch_reader_protocol_gate(spark, table):
    _commit_protocol(table, 9, 9)
    with pytest.raises(Exception, match="reader protocol"):
        _fmt(spark, table.path).count()
    # pinned pre-feature versions stay readable
    assert _fmt(spark, table.path, versionAsOf=0).count() == 100


def test_stream_reader_protocol_gate(spark, table, tmp_path):
    _commit_protocol(table, 9, 9)
    with pytest.raises(Exception, match="reader protocol"):
        q = (
            spark.readStream.format("txnlog")
            .option("path", table.path)
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def test_sink_protocol_gate(spark, table, tmp_path):
    # readers stay supported, so only the writer gate can refuse
    _commit_protocol(table, 1, 9)
    src = str(tmp_path / "src")
    rows = _frame(spark, 200, 210).withColumnRenamed("comment", "note")
    rows.write.parquet(src)
    with pytest.raises(Exception, match="writer protocol"):
        q = (
            spark.readStream.schema(rows.schema)
            .parquet(src)
            .writeStream.format("txnlog")
            .option("path", table.path)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    assert table.read().count() == 110  # nothing committed


def test_batch_reader_timestamp_as_of_monotonic_under_skew(
    spark, tmp_path
):
    """The format reader's timestampAsOf resolves over the same
    monotonically adjusted commit sequence as TxnLogTable.read_asof
    (s30): a later-numbered commit with an EARLIER wall clock (skewed
    writer) can never be exposed by a timestamp between its neighbors."""
    spark.dataSource.register(TxnLogStreamDataSource)
    t = TxnLogTable(spark, str(tmp_path / "skew"), SCHEMA, ["id"])
    t.init(_frame(spark, 0, 10))  # v0
    t.append(_frame(spark, 10, 20))  # v1 fast clock
    t.append(_frame(spark, 20, 30))  # v2 slow clock (behind v1)
    for v, ts in ((0, 1.0e9), (1, 1.0e9 + 100.0), (2, 1.0e9 + 50.0)):
        with open(t._log_path(v), encoding="utf-8") as f:
            e = json.load(f)
        e["ts"] = ts
        with open(t._log_path(v), "w", encoding="utf-8") as f:
            json.dump(e, f)
    asked = 1.0e9 + 75.0  # between v0 and v1 on the ADJUSTED sequence
    got = (
        spark.read.format("txnlog")
        .option("path", t.path)
        .option("timestampAsOf", str(asked))
        .load()
    )
    assert got.count() == 10  # v0, not the skewed v2
    assert got.count() == t.read_asof(asked).count()  # library parity


def test_batch_reader_add_columns_null_fills_old_files(spark, tmp_path):
    """Files written BEFORE an add_columns lack the new column; the
    format reader must null-fill it (like the library path's
    spark.read.schema) instead of raising
    DATA_SOURCE_RETURN_SCHEMA_MISMATCH on the old-era files."""
    spark.dataSource.register(TxnLogStreamDataSource)
    t = TxnLogTable(spark, str(tmp_path / "ev"), SCHEMA, ["id"])
    t.init(_frame(spark, 0, 20))  # v0: no 'extra'
    t.add_columns({"extra": "bigint"})  # v1: metadata only
    t.append(
        _frame(spark, 20, 30).withColumn(
            "extra", F.col("id") * 100
        )
    )  # v2: files WITH the column
    cur = _fmt(spark, t.path)
    assert cur.count() == 30
    assert cur.filter(F.col("id") == 3).first()["extra"] is None
    assert cur.filter(F.col("id") == 25).first()["extra"] == 2500
    for v in t.versions():
        want = sorted(map(tuple, t.read(v).collect()))
        got = sorted(
            map(tuple, _fmt(spark, t.path, versionAsOf=v).collect())
        )
        assert got == want, f"format reader diverged at v{v}"


def test_batch_reader_drop_then_readd_does_not_resurrect(spark, tmp_path):
    """Old-era files still carry the RETIRED physical column whose
    name equals the re-added logical column; projecting by name would
    resurrect the dropped era's bytes. The format reader must project
    by PHYSICAL schema like TxnLogTable._scan: NULL over the old
    files, real values only from post-re-add writes."""
    spark.dataSource.register(TxnLogStreamDataSource)
    t = TxnLogTable(spark, str(tmp_path / "rr"), SCHEMA, ["id"])
    t.init(_frame(spark, 0, 20))  # comment='c<i>' in every old file
    t.drop_column("comment")
    t.add_columns({"comment": "string"})  # same logical name, fresh phys
    row = {"id": 7, "price": 10.5, "comment": "NEW"}
    t.upsert(
        spark.createDataFrame(
            [tuple(row[f.name] for f in t.schema.fields)], t.schema
        )
    )
    cur = _fmt(spark, t.path)
    assert cur.filter(F.col("id") == 3).first()["comment"] is None, (
        "format reader resurrected a dropped column's bytes"
    )
    assert cur.filter(F.col("id") == 7).first()["comment"] == "NEW"
    for v in t.versions():
        want = sorted(map(tuple, t.read(v).collect()))
        got = sorted(
            map(tuple, _fmt(spark, t.path, versionAsOf=v).collect())
        )
        assert got == want, f"format reader diverged at v{v}"


ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "relational_query_engine_sql_spark"
LAYOUT = ("_txn_log", ".checkpoint.json")


def test_log_layout_is_named_only_by_the_table_module():
    """One owner of the commit-log format: the log directory's name and
    the checkpoint suffix appear as string constants only in
    operators/txnlog.py, so no other module builds log paths or
    replays checkpoints on its own."""
    found, owner = [], set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (
                isinstance(node, ast.Constant) and isinstance(node.value, str)
            ):
                continue
            for name in LAYOUT:
                if name not in node.value:
                    continue
                if rel == "operators/txnlog.py":
                    owner.add(name)
                else:
                    found.append(f"{rel}:{node.lineno} {name!r}")
    assert owner == set(LAYOUT)
    assert found == [], f"log layout named outside txnlog.py: {found}"
