"""Row tracking (Delta row tracking / Iceberg v3 row lineage) on the
txnlog format: stable row ids under append, merge-on-read delete, and
preserving compaction; fresh ids above the high-water mark; protocol
gating so an unaware writer can't silently break lineage.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from relational_query_engine_sql_spark.operators.txnlog import (
    ROWID_COL,
    TxnLogTable,
)
from relational_query_engine_sql_spark.sources import load_table


def _src(spark, sf):
    return load_table(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )


def _sorted1(df, key="s_suppkey"):
    return df.repartition(1).sortWithinPartitions(key)


def _ids(t, version=None):
    return {
        r.s_suppkey: r[ROWID_COL]
        for r in t.read_with_row_ids(version).collect()
    }


@pytest.fixture()
def tracked(spark, sf_small, tmp_path):
    src = _src(spark, sf_small)
    t = TxnLogTable(
        spark, str(tmp_path / "s"), src.schema, ["s_suppkey"]
    )
    t.enable_row_tracking()
    h = src.agg(F.max("s_suppkey")).collect()[0][0] // 2
    t.init(_sorted1(src.filter(F.col("s_suppkey") <= h)))
    t.append(_sorted1(src.filter(F.col("s_suppkey") > h)))
    return t, src, h


def test_lazy_ids_are_contiguous_in_commit_and_file_order(tracked):
    t, src, h = tracked
    ids = _ids(t)
    n = src.count()
    assert sorted(ids.values()) == list(range(n))
    # batch 1 was written sorted: its ids are the sorted-key ranks
    keys1 = sorted(k for k in ids if k <= h)
    for rank, k in enumerate(keys1):
        assert ids[k] == rank


def test_mor_delete_keeps_survivor_ids(tracked):
    t, src, _ = tracked
    before = _ids(t)
    t.delete_keys_deferred(
        src.filter(F.col("s_suppkey") % 3 == 0).select("s_suppkey")
    )
    after = _ids(t)
    assert set(after) == {k for k in before if k % 3 != 0}
    assert all(after[k] == before[k] for k in after)


def test_preserving_compact_keeps_ids_and_hwm(tracked):
    t, src, _ = tracked
    before = _ids(t)
    _, hwm_before = t._row_id_bases()
    t.compact_preserving_row_ids(2)
    assert _ids(t) == before
    _, hwm_after = t._row_id_bases()
    assert hwm_after == hwm_before
    # the rewritten adds are flagged in the log entry itself
    with open(t._log_path(t.current_version()), encoding="utf-8") as f:
        entry = json.load(f)
    adds = [a["add"] for a in entry["actions"] if "add" in a]
    assert adds and all(a.get("rowid_materialized") for a in adds)
    # a second compaction changes nothing either
    t.compact_preserving_row_ids(1)
    assert _ids(t) == before


def test_fresh_append_after_compact_continues_above_hwm(tracked):
    t, src, h = tracked
    t.compact_preserving_row_ids(2)
    before = _ids(t)
    _, hwm = t._row_id_bases()
    fresh = src.filter(F.col("s_suppkey") <= h).select(
        (F.col("s_suppkey") + 10_000_000).alias("s_suppkey"),
        "s_name",
        "s_acctbal",
    )
    t.append(_sorted1(fresh))
    after = _ids(t)
    new_ids = [v for k, v in after.items() if k >= 10_000_000]
    assert min(new_ids) == hwm  # contiguous continuation, no gap jump
    assert all(after[k] == before[k] for k in before)
    assert len(set(after.values())) == len(after)


def test_plain_read_never_shows_the_id_column(tracked):
    t, src, _ = tracked
    t.compact_preserving_row_ids(2)
    assert ROWID_COL not in t.read().columns
    assert t.read().count() == src.count()


def test_restore_to_precompact_version_keeps_ids(tracked):
    t, src, _ = tracked
    v_pre = t.current_version()
    ids_pre = _ids(t)
    t.compact_preserving_row_ids(2)
    t.restore(v_pre)
    assert _ids(t) == ids_pre


def test_time_travel_reads_that_versions_ids(tracked):
    t, src, _ = tracked
    v1 = t.current_version()
    ids_v1 = _ids(t)
    t.delete_keys_deferred(
        src.filter(F.col("s_suppkey") % 2 == 0).select("s_suppkey")
    )
    assert _ids(t, v1) == ids_v1
    assert set(_ids(t)) == {k for k in ids_v1 if k % 2 != 0}


def test_cow_update_preserves_every_row_id(tracked):
    """Delta row-tracking semantics: a row id names the ROW, not the
    row version — copy-on-write UPDATE preserves the id of every
    surviving row, updated rows included (change history is the
    CDF's job), and the high-water mark is untouched."""
    t, src, h = tracked
    before = _ids(t)
    _, hwm = t._row_id_bases()
    t.update(
        F.col("s_suppkey") <= h,
        {"s_acctbal": F.col("s_acctbal") + 1},
    )
    after = _ids(t)
    assert after == before
    assert t._row_id_bases()[1] == hwm
    # the rewritten files carry the ids physically
    with open(t._log_path(t.current_version()), encoding="utf-8") as f:
        entry = json.load(f)
    adds = [a["add"] for a in entry["actions"] if "add" in a]
    assert adds and all(a.get("rowid_materialized") for a in adds)


def test_upsert_preserves_matched_ids_fresh_for_new(tracked):
    """MERGE/upsert parity: matched keys keep their ids through the
    rewrite; brand-new keys get fresh lazy ids above the high-water
    mark; carried neighbours in rewritten files keep theirs."""
    t, src, h = tracked
    before = _ids(t)
    _, hwm = t._row_id_bases()
    rows = src.filter(F.col("s_suppkey") <= h).select(
        "s_suppkey",
        "s_name",
        (F.col("s_acctbal") + 5).alias("s_acctbal"),
    )
    fresh = src.filter(F.col("s_suppkey") <= h).select(
        (F.col("s_suppkey") + 50_000_000).alias("s_suppkey"),
        "s_name",
        "s_acctbal",
    )
    t.upsert(rows.unionByName(fresh))
    after = _ids(t)
    old = {k: v for k, v in after.items() if k < 50_000_000}
    new = {k: v for k, v in after.items() if k >= 50_000_000}
    assert old == before
    assert new and all(v >= hwm for v in new.values())
    assert len(set(after.values())) == len(after)


def test_plain_compact_preserves_ids_on_tracked_table(tracked):
    """compact()/compact_small() on a row-tracked table must preserve
    ids exactly like compact_preserving_row_ids — the min_writer=3
    gate exists so lineage can't be compacted away."""
    t, src, h = tracked
    before = _ids(t)
    _, hwm = t._row_id_bases()
    t.compact(2)
    assert _ids(t) == before
    assert t._row_id_bases()[1] == hwm
    t.append(
        src.filter(F.col("s_suppkey") <= h).select(
            (F.col("s_suppkey") + 70_000_000).alias("s_suppkey"),
            "s_name",
            "s_acctbal",
        )
    )
    t.compact_small(10_000_000)
    after = _ids(t)
    assert {k: v for k, v in after.items() if k < 70_000_000} == before
    fresh = [v for k, v in after.items() if k >= 70_000_000]
    assert fresh and min(fresh) == hwm
    assert len(set(after.values())) == len(after)


def test_protocol_gate_and_reserved_name(spark, sf_small, tmp_path):
    src = _src(spark, sf_small)
    t = TxnLogTable(
        spark, str(tmp_path / "t1"), src.schema, ["s_suppkey"]
    )
    # not enabled -> the id read path refuses
    t.init(_sorted1(src))
    with pytest.raises(RuntimeError, match="row tracking"):
        t.read_with_row_ids()
    v = t.enable_row_tracking()
    prot = t._cmap_at(v)["protocol"]
    assert prot["min_writer"] == 3
    # enabling twice is a no-op commit-wise
    assert t.enable_row_tracking() == v

    bad_schema = src.withColumn(ROWID_COL, F.lit(0)).schema
    t2 = TxnLogTable(
        spark, str(tmp_path / "t2"), bad_schema, ["s_suppkey"]
    )
    with pytest.raises(ValueError, match="reserved"):
        t2.enable_row_tracking()


def test_ids_survive_checkpoint_crossing(spark, sf_small, tmp_path):
    """More than CHECKPOINT_EVERY commits: the cmap (and with it the
    row-tracking flag) folds through the checkpoint, and the lazy
    base walk still reads the raw entries."""
    src = _src(spark, sf_small)
    t = TxnLogTable(
        spark, str(tmp_path / "ck"), src.schema, ["s_suppkey"]
    )
    t.enable_row_tracking()
    keys = sorted(r.s_suppkey for r in src.select("s_suppkey").collect())
    t.init(_sorted1(src.filter(F.col("s_suppkey") == keys[0])))
    for i, k in enumerate(keys[1:12], start=1):
        t.append(_sorted1(src.filter(F.col("s_suppkey") == k)))
    assert t.row_tracking_enabled()
    ids = _ids(t)
    used = keys[:12]
    assert [ids[k] for k in used] == list(range(len(used)))


def _register(spark):
    from relational_query_engine_sql_spark.sources.txnlog_stream import (
        TxnLogStreamDataSource,
    )

    spark.dataSource.register(TxnLogStreamDataSource)


def test_format_reader_row_ids_match_library_path(tracked, spark):
    t, src, _ = tracked
    t.delete_keys_deferred(
        src.filter(F.col("s_suppkey") % 3 == 0).select("s_suppkey")
    )
    t.compact_preserving_row_ids(2)
    t.append(
        _sorted1(
            src.limit(3).select(
                (F.col("s_suppkey") + 777_000).alias("s_suppkey"),
                "s_name",
                "s_acctbal",
            )
        )
    )
    _register(spark)
    via_format = {
        r.s_suppkey: r[ROWID_COL]
        for r in spark.read.format("txnlog")
        .option("path", t.path)
        .option("rowIds", "true")
        .load()
        .collect()
    }
    assert via_format == _ids(t)
    # plain format read stays id-free and row-identical
    plain = (
        spark.read.format("txnlog").option("path", t.path).load()
    )
    assert ROWID_COL not in plain.columns
    assert plain.count() == len(via_format)


def test_format_reader_row_ids_time_travel(tracked, spark):
    t, src, _ = tracked
    v1 = t.current_version()
    ids_v1 = _ids(t)
    t.compact_preserving_row_ids(1)
    _register(spark)
    via_format = {
        r.s_suppkey: r[ROWID_COL]
        for r in spark.read.format("txnlog")
        .option("path", t.path)
        .option("rowIds", "true")
        .option("versionAsOf", str(v1))
        .load()
        .collect()
    }
    assert via_format == ids_v1


def test_format_reader_row_ids_requires_feature(spark, sf_small, tmp_path):
    src = _src(spark, sf_small)
    t = TxnLogTable(
        spark, str(tmp_path / "nf"), src.schema, ["s_suppkey"]
    )
    t.init(_sorted1(src))
    _register(spark)
    with pytest.raises(Exception, match="row tracking"):
        spark.read.format("txnlog").option("path", t.path).option(
            "rowIds", "true"
        ).load().collect()


@pytest.mark.parametrize("enable_at", ["before_init", "after_v10"])
def test_checkpoint_folds_rowid_state(spark, sf_small, tmp_path, enable_at):
    """Commit past CHECKPOINT_EVERY: the checkpoint payload carries
    folded (bases, hwm) whether tracking was on before it or turned on
    only after it, the seeded walk (on this table and on a fresh one)
    equals a raw full-history walk, and a ``rowIds`` format read
    returns the library path's ids (format-reader parity)."""
    src = _src(spark, sf_small)
    t = TxnLogTable(
        spark, str(tmp_path / "ckf"), src.schema, ["s_suppkey"]
    )
    if enable_at == "before_init":
        t.enable_row_tracking()  # v0
    keys = sorted(
        r.s_suppkey for r in src.select("s_suppkey").collect()
    )[:10]
    assert len(keys) == 10
    t.init(_sorted1(src.filter(F.col("s_suppkey") == keys[0])))
    for k in keys[1:-1]:
        t.append(_sorted1(src.filter(F.col("s_suppkey") == k)))
    while t.current_version() < 10:  # rewrites reach the checkpoint
        t.upsert(_sorted1(src.filter(F.col("s_suppkey") == keys[0])))
    assert os.path.exists(t._ckpt_path(10))
    if enable_at == "after_v10":
        t.enable_row_tracking()  # v11
    t.append(_sorted1(src.filter(F.col("s_suppkey") == keys[-1])))
    with open(t._ckpt_path(10), encoding="utf-8") as f:
        ck = json.load(f)
    assert "rowid" in ck and ck["rowid"]["hwm"] > 0
    # seeded walk == raw reference walk over every entry
    raw_bases: dict[str, int] = {}
    raw_hwm = 0
    for v in range(0, t.current_version() + 1):
        with open(t._log_path(v), encoding="utf-8") as f:
            entry = json.load(f)
        for a in entry["actions"]:
            add = a.get("add")
            if (
                not add
                or add.get("dv")
                or add.get("rowid_materialized")
                or add["path"] in raw_bases
            ):
                continue
            raw_bases[add["path"]] = raw_hwm
            raw_hwm += add.get("rows") or 0
    assert t._row_id_bases() == (raw_bases, raw_hwm)
    fresh = TxnLogTable(spark, t.path, src.schema, ["s_suppkey"])
    assert fresh._row_id_bases() == (raw_bases, raw_hwm)
    _register(spark)
    via_format = {
        r.s_suppkey: r[ROWID_COL]
        for r in spark.read.format("txnlog")
        .option("path", t.path)
        .option("rowIds", "true")
        .load()
        .collect()
    }
    assert via_format == _ids(t)


def test_streaming_sink_rows_get_lazy_ids(spark, sf_small, tmp_path):
    """Streaming ingest into a row-tracked table: the sink's append
    commits carry exact rowcounts, so every ingested record gets a
    stable id with zero write-path coordination; later micro-batches
    land strictly above earlier ones."""
    _register(spark)
    schema = "event_id long, event_type string, value double"
    ev = (
        load_table(spark, sf_small, "events")
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
        .limit(200)
        .collect()
    )
    srcdir = tmp_path / "src"
    srcdir.mkdir()
    spark.createDataFrame(ev[:120], schema).coalesce(1).write.parquet(
        str(srcdir / "c0")
    )
    spark.createDataFrame(ev[120:], schema).coalesce(1).write.parquet(
        str(srcdir / "c1")
    )
    table_path = str(tmp_path / "table")
    t = TxnLogTable(
        spark,
        table_path,
        spark.createDataFrame([], schema).schema,
        ["event_id"],
    )
    t.enable_row_tracking()
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(srcdir / "c*"))
        .writeStream.format("txnlog")
        .option("path", table_path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("appId", "rowid-ingest")
        .option("keys", "event_id")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ids = {
        r.event_id: r[ROWID_COL]
        for r in t.read_with_row_ids().collect()
    }
    assert len(ids) == 200
    assert sorted(ids.values()) == list(range(200))
    first = {r["event_id"] for r in ev[:120]}
    batch1 = [v for k, v in ids.items() if k in first]
    batch2 = [v for k, v in ids.items() if k not in first]
    assert max(batch1) < min(batch2) or max(batch2) < min(batch1)


def test_partitioned_table_ids_survive_basename_collision(
    spark, sf_small, tmp_path
):
    """One task writing several hive partitions emits IDENTICAL
    part-file basenames into different p_*= directories — the row-id
    base map must key on (basename, partitionValues), not basename
    alone, or every colliding file fans out to every base (duplicated
    rows, wrong ids)."""
    src = _src(spark, sf_small).withColumn(
        "bucket", (F.col("s_suppkey") % 3).cast("int")
    )
    t = TxnLogTable(
        spark,
        str(tmp_path / "p"),
        src.schema,
        ["s_suppkey"],
        partition_by=["bucket"],
    )
    t.enable_row_tracking()
    # repartition(1): a single task writes ALL three partition dirs,
    # so the three files share one basename
    t.init(src.repartition(1))
    n = src.count()
    ids = _ids(t)
    assert len(ids) == n
    assert sorted(ids.values()) == list(range(n))
    # a second single-task append repeats the collision in fresh dirs
    t.append(
        src.select(
            (F.col("s_suppkey") + 90_000_000).alias("s_suppkey"),
            "s_name",
            "s_acctbal",
            "bucket",
        ).repartition(1)
    )
    after = _ids(t)
    assert len(after) == 2 * n
    assert sorted(after.values()) == list(range(2 * n))
    assert {k: v for k, v in after.items() if k < 90_000_000} == ids


def test_format_reader_keeps_user_row_id_column_when_untracked(
    spark, sf_small, tmp_path
):
    """On a table where row tracking was NEVER enabled, `_row_id` is
    an ordinary user column — format reads must surface it, not strip
    it (the name is only reserved at enable_row_tracking time)."""
    src = _src(spark, sf_small).withColumn(
        ROWID_COL, F.col("s_suppkey") * 10
    )
    t = TxnLogTable(
        spark, str(tmp_path / "u"), src.schema, ["s_suppkey"]
    )
    t.init(_sorted1(src))
    _register(spark)
    got = (
        spark.read.format("txnlog")
        .option("path", t.path)
        .load()
    )
    assert ROWID_COL in got.columns
    vals = {r.s_suppkey: r[ROWID_COL] for r in got.collect()}
    assert all(v == 10 * k for k, v in vals.items())


def test_format_reader_rowids_requires_declared_schema(tracked, spark):
    """rowIds=true with an explicit schema LACKING `_row_id` must fail
    loudly instead of appending a column the declared schema doesn't
    announce."""
    t, src, _ = tracked
    _register(spark)
    with pytest.raises(Exception, match="_row_id"):
        spark.read.format("txnlog").schema(src.schema).option(
            "path", t.path
        ).option("rowIds", "true").load().collect()


def test_purge_dv_materializes_deletes_preserves_ids(tracked):
    """REORG APPLY (PURGE): after the purge the table reads identically
    (ids included), zero DV files remain, files with no masked rows
    are kept BY IDENTITY, and a second purge is a no-op."""
    t, src, h = tracked
    # a third file whose keys avoid every tombstoned residue — it must
    # survive the purge untouched
    clean = src.filter(
        (F.col("s_suppkey") <= h)
        & ((F.col("s_suppkey") + 30_000_000) % 7 != 0)
    ).select(
        (F.col("s_suppkey") + 30_000_000).alias("s_suppkey"),
        "s_name",
        "s_acctbal",
    )
    t.append(_sorted1(clean))
    with open(t._log_path(t.current_version()), encoding="utf-8") as f:
        clean_paths = {
            a["add"]["path"]
            for a in json.load(f)["actions"]
            if "add" in a
        }
    t.delete_keys_deferred(
        src.filter(F.col("s_suppkey") % 7 == 0).select("s_suppkey")
    )
    pre = _ids(t)
    assert t._split_live()[1], "fixture must have live DVs"
    v = t.purge_deletion_vectors()
    assert v is not None
    post_data, post_dvs = t._split_live()
    assert not post_dvs
    assert _ids(t) == pre
    assert clean_paths <= set(post_data), "clean file was rewritten"
    assert t.purge_deletion_vectors() is None


def test_merge_preserves_ids_updates_keep_inserts_fresh(tracked):
    """MERGE on a row-tracked table: updated and carried rows keep
    their ids (threaded through merge_frame as an extra schema
    field), deleted rows' ids vanish, inserted rows take fresh lazy
    ids above the high-water mark."""
    t, src, h = tracked
    before = _ids(t)
    _, hwm = t._row_id_bases()
    source = (
        src.filter(F.col("s_suppkey") <= h)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("s_acctbal") + 9).alias("s_acctbal"),
        )
        .unionByName(
            src.filter(F.col("s_suppkey") <= h).select(
                (F.col("s_suppkey") + 80_000_000).alias("s_suppkey"),
                "s_name",
                "s_acctbal",
            )
        )
    )
    t.merge(
        source,
        update_assign={"s_acctbal": F.col("_s_s_acctbal")},
        delete_cond=F.col("s_suppkey") % 5 == 0,
    )
    after = _ids(t)
    old = {k: v for k, v in after.items() if k < 80_000_000}
    new = {k: v for k, v in after.items() if k >= 80_000_000}
    # deleted: matched source rows with key%5==0
    expect_old = {
        k: v
        for k, v in before.items()
        if not (k <= h and k % 5 == 0)
    }
    assert old == expect_old
    assert new and all(v >= hwm for v in new.values())
    assert len(set(after.values())) == len(after)


def test_partitioned_tracked_lifecycle_update_compact_purge(
    spark, sf_small, tmp_path
):
    """Partitioned + row-tracked end-to-end: ids stay stable through
    a predicate UPDATE, a compaction, an MOR delete, and a DV purge —
    the composition the basename-collision bug would have corrupted
    silently."""
    src = _src(spark, sf_small).withColumn(
        "bucket", (F.col("s_suppkey") % 3).cast("int")
    )
    t = TxnLogTable(
        spark,
        str(tmp_path / "pl"),
        src.schema,
        ["s_suppkey"],
        partition_by=["bucket"],
    )
    t.enable_row_tracking()
    t.init(src.repartition(1))
    before = _ids(t)
    _, hwm = t._row_id_bases()
    t.update(
        F.col("bucket") == 1,
        {"s_acctbal": F.col("s_acctbal") + 1},
    )
    assert _ids(t) == before
    t.compact(2)
    assert _ids(t) == before
    t.delete_keys_deferred(
        src.filter(F.col("s_suppkey") % 4 == 0).select("s_suppkey")
    )
    survivors = {k: v for k, v in before.items() if k % 4 != 0}
    assert _ids(t) == survivors
    assert t.purge_deletion_vectors() is not None
    assert _ids(t) == survivors
    assert not t._split_live()[1]
    assert t._row_id_bases()[1] == hwm


def test_predicate_delete_preserves_survivor_ids(tracked):
    """Predicate DELETE on a row-tracked table: survivors carried
    through the copy-on-write rewrite keep their ids."""
    t, src, h = tracked
    before = _ids(t)
    _, hwm = t._row_id_bases()
    t.delete(F.col("s_suppkey") % 6 == 1)
    after = _ids(t)
    assert after == {k: v for k, v in before.items() if k % 6 != 1}
    assert t._row_id_bases()[1] == hwm


def test_replace_where_preserves_carried_ids_fresh_region(tracked):
    """replaceWhere on a row-tracked table: rows carried from the
    rewritten files keep their ids; the replacement region's rows are
    NEW row identities with fresh lazy ids above the high-water
    mark."""
    t, src, h = tracked
    before = _ids(t)
    _, hwm = t._row_id_bases()
    region = F.col("s_suppkey") <= h // 2
    incoming = src.filter(region).select(
        "s_suppkey", "s_name", (F.col("s_acctbal") * 0).alias("s_acctbal")
    )
    t.replace_where(incoming, region)
    after = _ids(t)
    carried = {k: v for k, v in after.items() if k > h // 2}
    replaced = {k: v for k, v in after.items() if k <= h // 2}
    assert carried == {k: v for k, v in before.items() if k > h // 2}
    assert replaced and all(v >= hwm for v in replaced.values())
    assert len(set(after.values())) == len(after)


def test_sink_written_ids_survive_mor_delete_and_preserving_compact(
    spark, sf_small, tmp_path
):
    """Composition: rows ingested through the STREAMING SINK into a
    row-tracked table behave exactly like batch-appended rows under
    the id-preserving mutations — a MOR delete keeps survivor ids and
    a preserving compaction keeps both ids and the high-water mark.
    (The registry row stream_txnlog_rowid_sink pins ingest-side
    stability; this pins the downstream mutation contract.)"""
    from relational_query_engine_sql_spark.sources.txnlog_stream import (
        TxnLogStreamDataSource,
    )

    spark.dataSource.register(TxnLogStreamDataSource)
    src = _src(spark, sf_small)
    root = str(tmp_path / "sunk")
    t = TxnLogTable(spark, f"{root}/table", src.schema, ["s_suppkey"])
    t.enable_row_tracking()
    src.write.parquet(f"{root}/src/c0")
    q = (
        spark.readStream.schema(src.schema)
        .parquet(f"{root}/src/c*")
        .writeStream.format("txnlog")
        .option("path", f"{root}/table")
        .option("checkpointLocation", f"{root}/ckpt")
        .option("appId", "t_ingest")
        .option("keys", "s_suppkey")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    before = _ids(t)
    assert set(before.values()) == set(range(len(before)))

    t.delete_keys_deferred(
        src.filter(F.col("s_suppkey") % 5 == 0).select("s_suppkey")
    )
    after_del = _ids(t)
    assert set(after_del) == {k for k in before if k % 5 != 0}
    assert all(after_del[k] == before[k] for k in after_del)

    _, hwm = t._row_id_bases()
    t.compact_preserving_row_ids(1)
    assert _ids(t) == after_del
    assert t._row_id_bases()[1] == hwm


@pytest.mark.parametrize(
    "merge_schema", [False, True], ids=["plain", "evolving"]
)
def test_revived_key_keeps_file_mates_ids(spark, tmp_path, merge_schema):
    """Appending a key a deletion vector tombstoned purges its old row
    by rewriting the file it lived in (_revive_actions); the file's
    other rows keep their ids, also when the append widens the schema
    (the rewritten rows get a typed null in the new column)."""
    ten = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k bigint, v string"
    ).coalesce(1)
    t = TxnLogTable(spark, str(tmp_path / "t"), ten.schema, ["k"])
    t.enable_row_tracking()
    t.init(ten)

    def ids():
        return {r.k: r[ROWID_COL] for r in t.read_with_row_ids().collect()}

    before = ids()
    assert sorted(before.values()) == list(range(10))
    t.delete_keys_deferred(spark.createDataFrame([(5,)], "k bigint"))
    if merge_schema:
        new = spark.createDataFrame(
            [(5, "new", 1.5)], "k bigint, v string, w double"
        )
    else:
        new = spark.createDataFrame([(5, "new")], "k bigint, v string")
    t.append(new, merge_schema=merge_schema)
    after = ids()
    assert sorted(after) == list(range(10))
    survivors = [k for k in range(10) if k != 5]
    assert [after[k] for k in survivors] == [before[k] for k in survivors]
    assert after[5] not in before.values()
    rows = {r.k: r for r in t.read().collect()}
    assert rows[5].v == "new"
    if merge_schema:
        assert rows[5].w == 1.5
        assert all(rows[k].w is None for k in survivors)
