"""Column mapping + protocol versioning on the txnlog format
(operators/txnlog.py): Delta columnMapping 'name' mode. The properties
that matter:

1. METADATA-ONLY — rename/drop never touch a data file (KB of JSON on
   a 100 TB table); the column's PHYSICAL parquet name is immutable,
   so files written before and after a rename stay mutually readable.
2. NO RESURRECTION — a dropped column's physical name is retired; a
   later add_columns of the same logical name reads NULL over the old
   files instead of the dropped era's bytes.
3. NAMESPACES — stats/bloom metadata live permanently in the physical
   namespace (pruning spans renames); CHECK constraints evaluate on
   logical names; keys/partition/constraint-referenced columns are
   not mappable.
4. PROTOCOL GATE — using the feature bumps min_reader/min_writer to 2
   (Delta's feature gating); a log demanding a newer protocol than the
   running code fails loudly at read AND write, before any data moves.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from relational_query_engine_sql_spark.operators.txnlog import (
    ConstraintViolation,
    ProtocolUnsupported,
    TxnLogTable,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("comment", T.StringType()),
        T.StructField("flag", T.StringType()),
    ]
)


def _frame(spark, lo, hi, tag="c"):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") * 1.5).alias("price"),
        F.concat(F.lit(tag), F.col("id")).alias("comment"),
        F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("flag"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["id"])
    t.init(_frame(spark, 0, 200))
    return t


def test_rename_is_metadata_only_and_versioned(spark, table):
    v0 = table.current_version()
    files0 = set(table._split_live()[0])
    table.rename_column("comment", "note")
    assert set(table._split_live()[0]) == files0  # zero data churn
    assert table.schema.fieldNames() == ["id", "price", "note", "flag"]
    assert (
        table.read().filter(F.col("id") == 7).first()["note"] == "c7"
    )
    # time travel to the pre-rename era shows the old name
    old = table.read(v0)
    assert "comment" in old.columns and "note" not in old.columns


def test_writes_after_rename_use_physical_names(spark, table):
    import pyarrow.parquet as pq

    v0 = table.current_version()
    table.rename_column("comment", "note")
    table.append(
        _frame(spark, 200, 260, tag="n").withColumnRenamed(
            "comment", "note"
        )
    )
    assert table.read().count() == 260
    # the fresh file physically carries the immutable old name
    new_rel = [
        p for p in table._split_live()[0] if p not in table._live(v0)
    ][0]
    names = pq.read_schema(os.path.join(table.path, new_rel)).names
    assert "comment" in names and "note" not in names
    # stats landed in the physical namespace; LOGICAL probes prune
    cands = table.scan_candidates("note", "n200", "n259")
    assert new_rel in cands
    # keyed mutations keep working across the mapped column
    table.upsert(
        spark.createDataFrame([(7, 9.9, "upd", "odd")], table.schema)
    )
    assert table.lookup([7]).first()["note"] == "upd"


def test_constraints_on_logical_names(spark, table):
    table.rename_column("comment", "note")
    table.add_constraint("note_nonempty", "length(note) > 0")
    bad = spark.createDataFrame([(999, 1.0, "", "odd")], table.schema)
    with pytest.raises(ConstraintViolation):
        table.append(bad)
    # a constraint-referenced column is locked against mapping
    with pytest.raises(ValueError, match="CHECK"):
        table.rename_column("note", "note2")
    with pytest.raises(ValueError, match="CHECK"):
        table.drop_column("note")


def test_unmappable_columns_raise(spark, table):
    with pytest.raises(ValueError, match="key"):
        table.rename_column("id", "id2")
    with pytest.raises(ValueError, match="no such column"):
        table.rename_column("ghost", "g2")
    with pytest.raises(ValueError, match="column exists"):
        table.rename_column("comment", "price")


def test_drop_then_readd_does_not_resurrect(spark, table):
    table.drop_column("flag")
    assert "flag" not in table.read().columns
    table.add_columns({"flag": "string"})
    # fresh physical name: the old era's values must NOT come back
    assert table._cmap_at(None)["map"]["flag"].startswith("flag__p")
    assert (
        table.read().filter(F.col("id") == 7).first()["flag"] is None
    )
    # new writes land under the fresh physical name and read back
    table.upsert(
        spark.createDataFrame([(7, 9.9, "c7", "NEW")], table.schema)
    )
    assert table.read().filter(F.col("id") == 7).first()["flag"] == "NEW"


def test_protocol_gates_read_and_write(spark, table):
    table.rename_column("comment", "note")
    st = table._cmap_at(None)
    assert st["protocol"] == {"min_reader": 2, "min_writer": 2}
    # hand-craft a future-feature commit demanding protocol 9
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
                        "protocol": {"min_reader": 9, "min_writer": 9},
                    },
                }
            }
        ],
    }
    with open(table._log_path(base + 1), "w", encoding="utf-8") as f:
        json.dump(entry, f)
    fresh = TxnLogTable(spark, table.path, SCHEMA, ["id"])
    with pytest.raises(ProtocolUnsupported):
        fresh.read()
    with pytest.raises(ProtocolUnsupported):
        fresh.append(
            _frame(spark, 300, 310).withColumnRenamed("comment", "note")
        )
    # the PRE-feature era stays readable (protocol resolves per version)
    assert fresh.read(0).count() == 200


def test_restore_and_clone_carry_mapping(spark, table, tmp_path):
    v0 = table.current_version()
    table.rename_column("comment", "note")
    table.drop_column("flag")
    # restore: old logical names return, retirement is permanent
    table.restore(v0)
    assert table.schema.fieldNames() == ["id", "price", "comment", "flag"]
    assert (
        table.read().filter(F.col("id") == 7).first()["comment"] == "c7"
    )
    st = table._cmap_at(None)
    assert "flag" in st["retired"]
    assert st["protocol"]["min_reader"] == 2
    # clone of a mapped table transfers the mapping
    table.rename_column("comment", "note")
    clone = table.clone_to(str(tmp_path / "clone"))
    assert (
        clone.read().filter(F.col("id") == 7).first()["note"] == "c7"
    )


def test_mapping_survives_checkpoint_fold(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "ck"), SCHEMA, ["id"])
    t.init(_frame(spark, 0, 50))
    t.rename_column("comment", "note")
    for i in range(12):  # cross a CHECKPOINT_EVERY boundary
        t.append(
            spark.createDataFrame(
                [(1000 + i, 1.0, f"z{i}", "e")], t.schema
            )
        )
    assert any(os.path.exists(t._ckpt_path(v)) for v in t.versions())
    fresh = TxnLogTable(spark, t.path, SCHEMA, ["id"])
    assert (
        fresh.read().filter(F.col("id") == 1005).first()["note"] == "z5"
    )
    assert fresh._cmap_at(None)["map"] == {"note": "comment"}


def test_cdf_across_rename(spark, table):
    v0 = table.current_version()
    table.rename_column("comment", "note")
    table.upsert(
        spark.createDataFrame([(7, 9.9, "upd", "odd")], table.schema)
    )
    ch = table.table_changes(v0)
    assert "note" in ch.columns and "comment" not in ch.columns
    post = ch.filter(
        (F.col("id") == 7) & (F.col("_change_type") == "update_postimage")
    ).first()
    assert post["note"] == "upd"


@pytest.mark.parametrize(
    "reader",
    ["read", "lookup", "read_where", "read_with_row_ids", "table_changes"],
)
def test_tracked_mapped_reads_hide_tombstones(spark, table, reader):
    """On a row-tracked, column-mapped table with live deletion
    vectors, every read path shows logical column names and hides the
    tombstoned keys: 205 (a file written after ``v``) is absent even
    from the change feed, and 7 (a file live at ``v``) shows there
    only as its delete."""
    table.rename_column("comment", "note")
    table.enable_row_tracking()
    v = table.current_version()
    table.append(
        _frame(spark, 200, 210, tag="n").withColumnRenamed("comment", "note")
    )
    table.delete_keys_deferred(
        spark.createDataFrame([(7,), (205,)], "id long")
    )
    out = {
        "read": lambda: table.read(),
        "lookup": lambda: table.lookup([7, 205, 206]),
        "read_where": lambda: table.read_where("id", 0, 209),
        "read_with_row_ids": lambda: table.read_with_row_ids(),
        "table_changes": lambda: table.table_changes(v),
    }[reader]()
    extra = {
        "read_with_row_ids": ["_row_id"],
        "table_changes": ["_change_type"],
    }.get(reader, [])
    assert out.columns == ["id", "price", "note", "flag"] + extra
    rows = {r["id"]: r for r in out.collect()}
    assert 205 not in rows
    assert rows[206]["note"] == "n206"
    if reader == "table_changes":
        assert rows[7]["_change_type"] == "delete"
        assert rows[7]["note"] == "c7"
        assert len(rows) == 10  # 9 inserts and the delete
    else:
        assert 7 not in rows


def test_stream_source_reads_logical_names(spark, tmp_path):
    from relational_query_engine_sql_spark.sources.txnlog_stream import (
        TxnLogStreamDataSource,
    )

    spark.dataSource.register(TxnLogStreamDataSource)
    t = TxnLogTable(spark, str(tmp_path / "s"), SCHEMA, ["id"])
    t.init(_frame(spark, 0, 40))
    t.rename_column("comment", "note")
    t.drop_column("flag")
    t.append(
        spark.range(40, 50).select(
            F.col("id"),
            (F.col("id") * 1.5).alias("price"),
            F.concat(F.lit("n"), F.col("id")).alias("note"),
        )
    )
    q = (
        spark.readStream.format("txnlog")
        .option("path", t.path)
        .load()
        .writeStream.format("memory")
        .queryName("cmap_stream_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("cmap_stream_t")
    # inferred schema is LOGICAL; the retired physical column is
    # projected away from the pre-drop files
    assert out.columns == ["id", "price", "note"]
    assert out.count() == 50
    assert out.filter(F.col("id") == 7).first()["note"] == "c7"
    assert out.filter(F.col("id") == 45).first()["note"] == "n45"


def test_stream_source_drop_then_readd_does_not_resurrect(
    spark, tmp_path
):
    """Old-era files carry the RETIRED physical column whose name
    equals the re-added logical column; the stream source must project
    by PHYSICAL schema (TxnLogTable._scan parity) so the dropped
    era's bytes never resurrect and pre-evolution files null-fill."""
    from relational_query_engine_sql_spark.sources.txnlog_stream import (
        TxnLogStreamDataSource,
    )

    spark.dataSource.register(TxnLogStreamDataSource)
    t = TxnLogTable(spark, str(tmp_path / "rr"), SCHEMA, ["id"])
    t.init(_frame(spark, 0, 40))  # flag='even'/'odd' in old files
    t.drop_column("flag")
    t.add_columns({"flag": "string"})  # same logical name, fresh phys
    t.append(
        spark.range(40, 50).select(
            F.col("id"),
            (F.col("id") * 1.5).alias("price"),
            F.concat(F.lit("n"), F.col("id")).alias("comment"),
            F.lit("NEW").alias("flag"),
        )
    )
    q = (
        spark.readStream.format("txnlog")
        .option("path", t.path)
        .load()
        .writeStream.format("memory")
        .queryName("cmap_stream_rr")
        .option("checkpointLocation", str(tmp_path / "ckpt_rr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("cmap_stream_rr")
    assert out.count() == 50
    assert out.filter(F.col("id") == 7).first()["flag"] is None, (
        "stream source resurrected a dropped column's bytes"
    )
    assert out.filter(F.col("id") == 45).first()["flag"] == "NEW"


def test_stream_sink_refuses_mapped_table(spark, tmp_path):
    from relational_query_engine_sql_spark.sources.txnlog_stream import (
        TxnLogStreamDataSource,
    )

    spark.dataSource.register(TxnLogStreamDataSource)
    t = TxnLogTable(spark, str(tmp_path / "t2"), SCHEMA, ["id"])
    t.init(_frame(spark, 0, 10))
    t.rename_column("comment", "note")
    src = _frame(spark, 10, 20)
    src.write.parquet(str(tmp_path / "src" / "c0"))
    q = (
        spark.readStream.schema(src.schema)
        .parquet(str(tmp_path / "src" / "c*"))
        .writeStream.format("txnlog")
        .option("path", t.path)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="column-mapped"):
        q.awaitTermination()
    assert t.read().count() == 10  # nothing landed


# -- model-based property: random schema-op/write sequences ----------------
#
# Column mapping's risk is interaction CHAINS (rename -> drop ->
# re-add -> rename back -> upsert ...), not single ops. Hypothesis
# drives random sequences against a pandas model of the logical
# table; after the sequence, TxnLogTable.read() must equal the model
# exactly. Invalid ops (rename onto a live/physical name, drop of a
# missing column) must raise ValueError and leave the table unchanged
# — the model skips them.

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import PROP_EXAMPLES

_NAMES = [f"c{i}" for i in range(6)]

_op = st.one_of(
    st.tuples(st.just("rename"), st.integers(0, 5), st.integers(0, 5)),
    st.tuples(st.just("drop"), st.integers(0, 5)),
    st.tuples(st.just("add"), st.integers(0, 5)),
    st.tuples(
        st.just("upsert"), st.integers(0, 40), st.integers(1, 5)
    ),
)


@given(ops=st.lists(_op, min_size=1, max_size=8))
@settings(
    max_examples=PROP_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_colmap_sequences_match_pandas_model(spark, tmp_path_factory, ops):
    import pyspark.sql.types as T

    root = tmp_path_factory.mktemp("colmap_seq")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("c0", T.StringType()),
            T.StructField("c1", T.StringType()),
        ]
    )
    t = TxnLogTable(spark, str(root / "t"), schema, ["k"])
    model = pd.DataFrame(
        {"k": [0, 1, 2], "c0": ["x0", "x1", "x2"], "c1": ["y0", "y1", "y2"]}
    ).set_index("k")
    t.init(
        spark.createDataFrame(
            model.reset_index(), schema=schema
        )
    )
    for op in ops:
        cols = list(model.columns)  # logical non-key columns
        if op[0] == "rename":
            if not cols:
                continue
            old = cols[op[1] % len(cols)]
            new = _NAMES[op[2] % len(_NAMES)]
            try:
                t.rename_column(old, new)
            except ValueError:
                continue  # invalid target: table must be unchanged
            model = model.rename(columns={old: new})
        elif op[0] == "drop":
            if not cols:
                continue
            c = cols[op[1] % len(cols)]
            try:
                t.drop_column(c)
            except ValueError:
                continue
            model = model.drop(columns=[c])
        elif op[0] == "add":
            c = _NAMES[op[1] % len(_NAMES)]
            try:
                t.add_columns({c: "string"})
            except ValueError:
                continue  # column exists
            model[c] = None
        else:  # upsert
            seed, nrows = op[1], op[2]
            keys = [(seed + i) % 50 for i in range(nrows)]
            keys = sorted(set(keys))
            cur = list(model.columns)
            rows = [
                tuple([k] + [f"{c}_{seed}_{k}" for c in cur])
                for k in keys
            ]
            up_schema = T.StructType(
                [T.StructField("k", T.LongType())]
                + [T.StructField(c, T.StringType()) for c in cur]
            )
            t.upsert(spark.createDataFrame(rows, schema=up_schema))
            if cur:
                for k in keys:
                    model.loc[k] = [f"{c}_{seed}_{k}" for c in cur]
            else:
                # every non-key column dropped: the upsert is pure key
                # membership (pandas loc can't assign an empty row list)
                model = model.reindex(model.index.union(keys))
    got = (
        t.read()
        .toPandas()
        .sort_values("k")
        .set_index("k")
        .sort_index(axis=1)
    )
    want = model.sort_index().sort_index(axis=1)
    want = want.where(pd.notna(want), None)
    got = got.where(pd.notna(got), None)
    pd.testing.assert_frame_equal(
        got, want, check_dtype=False, check_index_type=False
    )


# -- concurrency: schema-change commits vs data writes ----------------------


def test_rename_inside_write_window_fails_loud_no_partial_state(
    spark, tmp_path
):
    """A rename landing between a mutation's snapshot read and its
    commit changes the table SHAPE under it — the mutation must FAIL
    LOUDLY and leave no partial state, never land rows against the
    stale era. Two timings exist and both are safe: if the rename
    lands before the mutation stages, the stage's conform resolves
    the NEW schema and raises on the old-named frame (nothing
    written); if it lands after staging, the CAS loses and the
    metadata action forces the strict no-rebase path (staged files
    cleaned up). Either way the rename wins and the table stays
    consistent."""
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["id"])
    t.init(_frame(spark, 0, 50).coalesce(1))
    rival = TxnLogTable(spark, t.path, SCHEMA, ["id"])

    real = t._write_files
    fired = {"done": False}

    def inject_then_write(df, dv=False):
        if not fired["done"]:
            fired["done"] = True
            rival.rename_column("comment", "note")
        return real(df, dv=dv)

    t._write_files = inject_then_write
    with pytest.raises(Exception):
        t.upsert(
            spark.createDataFrame(
                [(7, 9.9, "upd", "odd")], SCHEMA
            )
        )
    # the rename won; the failed upsert left no partial state — same
    # row count, same values, new schema, and no unreferenced commit
    fresh = TxnLogTable(spark, t.path, SCHEMA, ["id"])
    assert fresh.schema.fieldNames() == ["id", "price", "note", "flag"]
    assert fresh.read().count() == 50
    assert fresh.read().filter(F.col("id") == 7).first()["note"] == "c7"
    assert [h["op"] for h in fresh.history()][-1] == "rename_column"


def test_data_write_inside_rename_window_forces_conflict(spark, tmp_path):
    """The mirror race: a data commit landing between rename_column's
    snapshot read and its metadata commit must fail the RENAME with
    CommitConflict (it would otherwise commit a schema derived from a
    stale version number) — the caller re-reads and retries."""
    from relational_query_engine_sql_spark.operators.mutation import (
        CommitConflict,
    )

    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["id"])
    t.init(_frame(spark, 0, 50))
    rival = TxnLogTable(spark, t.path, SCHEMA, ["id"])

    real = t._commit
    fired = {"done": False}

    def inject_then_commit(op, actions, expected_version, **kw):
        if not fired["done"] and op == "rename_column":
            fired["done"] = True
            rival.append(_frame(spark, 100, 110))
        return real(op, actions, expected_version, **kw)

    t._commit = inject_then_commit
    with pytest.raises(CommitConflict):
        t.rename_column("comment", "note")
    # retry on a fresh snapshot succeeds and sees the rival's rows
    t2 = TxnLogTable(spark, t.path, SCHEMA, ["id"])
    t2.rename_column("comment", "note")
    assert t2.read().count() == 60
    assert "note" in t2.read().columns
