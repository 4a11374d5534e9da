"""Small-commit driver-side stats fast path (txnlog `_driver_stat_rows`).

The fast path computes per-file min/max stats + bloom slices on the
driver via pyarrow instead of launching a Spark aggregate job per
commit. It must be VALUE-IDENTICAL to the distributed pass: same
stats JSON, same bloom geometry and mask bits, across every stat
column type (ints, strings incl. unicode, doubles incl. NaN/NULL,
timestamps, dates, decimals) and for partitioned layouts.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os

import pytest
from pyspark.sql import types as T

from relational_query_engine_sql_spark.operators import txnlog
from relational_query_engine_sql_spark.operators.txnlog import TxnLogTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("dt", T.DateType()),
        T.StructField("dec", T.DecimalType(10, 2)),
    ]
)

NAN = float("nan")


def _rows(spark, n0: int, n1: int):
    def mk(i: int):
        return (
            i,
            None if i % 7 == 3 else f"sé-{i:03d}",
            NAN if i % 5 == 0 else (None if i % 7 == 4 else i * 1.5),
            datetime.datetime(2024, 1, 1 + i % 20, 12, 30, i % 60),
            datetime.date(2024, 2, 1 + i % 25),
            decimal.Decimal(f"{i}.25"),
        )

    return spark.createDataFrame([mk(i) for i in range(n0, n1)], SCHEMA)


def _log_adds(t: TxnLogTable) -> list[dict]:
    adds = []
    for v in t.versions():
        with open(t._log_path(v), encoding="utf-8") as f:
            entry = json.load(f)
        for a in entry.get("actions", []):
            if "add" in a:
                adds.append(a["add"])
    return adds


def _bloom_mask(t: TxnLogTable, add: dict) -> str | None:
    b = add.get("bloom")
    if not b:
        return None
    if "hex" in b:
        return b["hex"]
    with open(os.path.join(t.path, b["sidecar"]), encoding="utf-8") as f:
        return json.load(f)[add["path"]]


def _comparable(t: TxnLogTable) -> list[tuple]:
    """Path-independent, order-independent view of every add-action's
    stats + bloom: (rows, stats-json, bloom m, bloom j, mask hex)."""
    out = []
    for a in _log_adds(t):
        b = a.get("bloom") or {}
        out.append(
            (
                a["rows"],
                json.dumps(a.get("stats"), sort_keys=True),
                b.get("m"),
                b.get("j"),
                _bloom_mask(t, a),
                json.dumps(a.get("part"), sort_keys=True),
            )
        )
    return sorted(out)


def _build(spark, path, monkeypatch, fast: bool, partition_by=None):
    if not fast:
        # byte gate 0 forces every commit onto the distributed pass
        # (until the test ends: build the fast table first)
        monkeypatch.setattr(txnlog, "DRIVER_STATS_MAX_BYTES", 0)
    t = TxnLogTable(spark, str(path), SCHEMA, ["k"], partition_by=partition_by)
    taken: list[bool] = []
    orig = t._driver_stat_rows

    def spy(*a, **kw):
        r = orig(*a, **kw)
        taken.append(r is not None)
        return r

    monkeypatch.setattr(t, "_driver_stat_rows", spy)
    t.init(_rows(spark, 0, 60))
    t.append(_rows(spark, 100, 130))
    return t, taken


@pytest.mark.parametrize("partition_by", [None, ["dt"]], ids=["flat", "parted"])
def test_driver_stats_parity_with_distributed_pass(
    spark, tmp_path, monkeypatch, partition_by
):
    fast, fast_taken = _build(
        spark, tmp_path / "fast", monkeypatch, True, partition_by
    )
    slow, slow_taken = _build(
        spark, tmp_path / "slow", monkeypatch, False, partition_by
    )
    # the fast table actually used the driver path; the control didn't
    assert fast_taken and all(fast_taken)
    assert slow_taken and not any(slow_taken)
    assert _comparable(fast) == _comparable(slow)
    # and the tables read back identically (repr: NaN == NaN)
    assert sorted(repr(tuple(r)) for r in fast.read().collect()) == sorted(
        repr(tuple(r)) for r in slow.read().collect()
    )


def test_driver_stats_row_gate_falls_back(spark, tmp_path, monkeypatch):
    """Above the row gate the fast path declines (returns None) so the
    distributed pass keeps covering large commits."""
    monkeypatch.setattr(txnlog, "DRIVER_STATS_MAX_ROWS", 10)
    monkeypatch.setattr(txnlog, "DRIVER_STATS_MAX_BLOOM_ROWS", 10)
    t, taken = _build(spark, tmp_path / "gated", monkeypatch, True)
    assert taken and not any(taken)  # every commit exceeded 10 rows
    # stats still recorded (by the distributed pass)
    assert all(a.get("stats") for a in _log_adds(t))


def test_sink_and_batch_writes_record_the_same_metadata(spark, tmp_path):
    """The streaming sink's write task and a TxnLogTable commit build
    their add-actions through one builder: the same rows, written once
    through each, log the same row counts, stats JSON (every stat
    column type, NaN and NULL included) and bloom geometry and mask.
    The sink runs driver-only: its write task gets the rows' Arrow
    batches here, as a Python worker would."""
    from relational_query_engine_sql_spark.sources.txnlog_stream import (
        TxnLogStreamWriter,
    )

    waves = [
        _rows(spark, 0, 60).coalesce(1),
        _rows(spark, 100, 130).coalesce(1),
    ]
    batch = TxnLogTable(spark, str(tmp_path / "batch"), SCHEMA, ["k"])
    batch.init(waves[0])
    batch.append(waves[1])
    sink_path = str(tmp_path / "sink")
    for i, wave in enumerate(waves):
        w = TxnLogStreamWriter({"path": sink_path, "keys": "k"}, SCHEMA)
        w.commit([w.write(iter(wave.toArrow().to_batches()))], i)
    sink = TxnLogTable(spark, sink_path, SCHEMA, ["k"])
    got = _comparable(sink)
    assert [r[0] for r in got] == [30, 60]
    assert all(r[4] for r in got)  # both files carry a bloom mask
    assert got == _comparable(batch)
    # keys name the stat and bloom columns, so they must be stream columns
    with pytest.raises(ValueError, match="keys"):
        TxnLogStreamWriter({"path": sink_path, "keys": "k,nope"}, SCHEMA)
