"""Structured Streaming tests: streams driven to completion with a
memory sink, results pinned to the batch equivalents."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from relational_query_engine_sql_spark.sources import load_table
from relational_query_engine_sql_spark.streaming import (
    EVENTS_TABLE_SCHEMA,
    dedup_stream,
    ingest_stream_to_table,
    read_events_stream,
    sessionize_batch,
    sessionized_stream,
    stateful_running_totals,
    tumbling_aggregate,
)


def _run_stream(df, name, mode="complete"):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def test_tumbling_stream_matches_batch(spark, sf_small):
    stream = read_events_stream(spark, sf_small)
    assert stream.isStreaming
    _run_stream(tumbling_aggregate(stream), "tumbling_out")
    got = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    batch = tumbling_aggregate(load_table(spark, sf_small, "events"))
    want = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in batch.collect()
    }
    assert got == want
    assert len(want) > 10


def test_session_window_stream(spark, sf_small):
    stream = read_events_stream(spark, sf_small)
    _run_stream(sessionized_stream(stream, gap="30 minutes"), "sessions_out")
    got = spark.sql("SELECT * FROM sessions_out")
    batch = sessionize_batch(load_table(spark, sf_small, "events"), 30)
    # session_window and the lag/cumsum rewrite agree on session count
    # and total events per user.
    g = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in got.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .collect()
    }
    b = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .collect()
    }
    assert g == b


def test_streaming_dedup(spark, sf_small):
    """A stream unioned with itself (every event twice) deduped by
    dropDuplicatesWithinWatermark collapses back to the distinct
    event count."""
    doubled = read_events_stream(spark, sf_small).union(
        read_events_stream(spark, sf_small)
    )
    _run_stream(dedup_stream(doubled), "dedup_out", mode="append")
    got = spark.sql("SELECT COUNT(*) AS n FROM dedup_out").collect()[0]["n"]
    want = load_table(spark, sf_small, "events").count()
    assert got == want
    # batch fallback path
    ev = load_table(spark, sf_small, "events")
    assert dedup_stream(ev.union(ev)).count() == want


def test_stream_stream_interval_join(spark, sf_small):
    """Watermarked stream-stream purchase←click attribution matches
    the batch interval join."""
    from relational_query_engine_sql_spark.streaming import (
        purchase_click_attribution,
    )

    stream = read_events_stream(spark, sf_small)
    _run_stream(
        purchase_click_attribution(stream), "attrib_out", mode="append"
    )
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM attrib_out").collect()
    }
    batch = purchase_click_attribution(
        load_table(spark, sf_small, "events")
    )
    want = {
        (r["purchase_id"], r["click_id"]) for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_stream_to_table_ingestion_effectively_once(spark, sf_small, tmp_path):
    """foreachBatch + keyed insert_ignore: duplicated input collapses,
    and re-running the whole stream (fresh checkpoint, simulating a
    full redelivery) adds nothing."""
    from relational_query_engine_sql_spark.operators.mutation import (
        ParquetTable,
    )

    table = ParquetTable(
        spark, str(tmp_path / "events_tbl"), EVENTS_TABLE_SCHEMA,
        keys=["event_id"],
    )
    doubled = read_events_stream(spark, sf_small).union(
        read_events_stream(spark, sf_small)
    )
    q = ingest_stream_to_table(doubled, table, str(tmp_path / "ckpt1"))
    q.awaitTermination()
    want = load_table(spark, sf_small, "events").count()
    assert table.read().count() == want
    # full redelivery: same data, fresh checkpoint → idempotent
    q2 = ingest_stream_to_table(
        read_events_stream(spark, sf_small), table, str(tmp_path / "ckpt2")
    )
    q2.awaitTermination()
    assert table.read().count() == want


def test_transform_with_state_user_stats(spark, sf_small):
    """transformWithStateInPandas (Welford per-user stats) requires the
    RocksDB state store provider; final emitted state per user must
    equal the closed-form batch aggregate.

    The TWS state server speaks protobuf from a separate Python driver
    worker — in containers without the protobuf package the worker
    crashes at init, so the differential check is gated on the import
    (it runs wherever the API itself can)."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas state server requires protobuf",
    )
    from relational_query_engine_sql_spark.streaming import (
        stateful_user_stats_tws,
        user_stats_batch,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider",
    )
    try:
        stream = read_events_stream(spark, sf_small)
        _run_stream(
            stateful_user_stats_tws(stream), "tws_stats_out", mode="update"
        )
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
    got = {
        r.user_id: (r.n, r.total, r.mean, r.stddev)
        for r in spark.sql(
            # update mode emits a row per micro-batch; keep the final
            # (largest n) state per user.
            """
            SELECT user_id, n, total, mean, stddev FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY user_id ORDER BY n DESC) AS rk
                FROM tws_stats_out
            ) WHERE rk = 1
            """
        ).collect()
    }
    ev = load_table(spark, sf_small, "events")
    want = {
        r.user_id: (r.n, r.total, r.mean, r.stddev)
        for r in user_stats_batch(ev).collect()
    }
    assert len(want) > 10
    assert got.keys() == want.keys()
    for u, (n, total, mean, std) in want.items():
        gn, gt, gm, gs = got[u]
        assert gn == n, u
        # Welford accumulates in a different order than the batch sum;
        # compare to the oracle within one ulp of the 4-dp rounding.
        assert abs(gt - total) <= 1e-4, u
        assert abs(gm - mean) <= 1e-4, u
        assert abs(gs - std) <= 1e-4, u


def test_stateful_running_totals(spark, sf_small):
    stream = read_events_stream(spark, sf_small)
    _run_stream(stateful_running_totals(stream), "totals_out", mode="update")
    got = {
        r.user_id: (r.n, r.total)
        for r in spark.sql(
            # update mode may emit a row per micro-batch; keep the last
            # (largest n) per user.
            """
            SELECT user_id, n, total FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY user_id ORDER BY n DESC) AS rk
                FROM totals_out
            ) WHERE rk = 1
            """
        ).collect()
    }
    ev = load_table(spark, sf_small, "events")
    want = {
        r.user_id: (r.n, r.total)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
        )
        .collect()
    }
    assert got == want


def test_trending_topk_stream_matches_batch(spark, sf_small):
    """The streaming form emits watermark-bounded windowed counts;
    ranking them once the stream drains must reproduce the batch
    trending board exactly (rank-in-sink pattern)."""
    from pyspark.sql import Window as W

    from relational_query_engine_sql_spark.streaming.events import (
        trending_topk,
    )

    stream = read_events_stream(spark, sf_small)
    _run_stream(trending_topk(stream), "trending_counts")
    counts = spark.sql("SELECT * FROM trending_counts")
    rank_w = W.partitionBy("window_start").orderBy(
        F.col("n").desc(), "event_type"
    )
    got = (
        counts.withColumn("rnk", F.row_number().over(rank_w))
        .filter(F.col("rnk") <= 3)
        .collect()
    )
    batch = trending_topk(load_table(spark, sf_small, "events")).collect()
    key = lambda r: (r.window_start, r.rnk)
    assert sorted(
        [(r.window_start, r.rnk, r.event_type, r.n) for r in got]
    ) == sorted([(r.window_start, r.rnk, r.event_type, r.n) for r in batch])
    assert len(batch) > 10


def test_mv_maintenance_merges_across_micro_batches(spark, sf_small, tmp_path):
    """Split the events into multiple source files and force
    one-file-per-trigger so maintain_hourly_mv's additive merge runs
    across REAL successive micro-batches (hours arriving in pieces),
    then pin the final MV to the one-shot batch rollup."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from relational_query_engine_sql_spark.operators.mutation import (
        ParquetTable,
    )
    from relational_query_engine_sql_spark.sources import load_table
    from relational_query_engine_sql_spark.streaming.events import (
        maintain_hourly_mv,
    )

    ev = load_table(spark, sf_small, "events")
    src = str(tmp_path / "src")
    # 4 files -> 4 micro-batches; hash-split so every hour spans files
    ev.repartition(4, "event_id").write.parquet(src)

    schema = T.StructType(
        [
            T.StructField("h", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("value_sum", T.DecimalType(27, 6)),
        ]
    )
    table = ParquetTable(
        spark, str(tmp_path / "mv"), schema, keys=["h", "event_type"]
    )
    table.init(spark.createDataFrame([], schema))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = maintain_hourly_mv(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination()
    assert q.lastProgress is None or True  # stream completed

    got = {
        (r["h"], r["event_type"]): (r["n_events"], r["value_sum"])
        for r in table.read().collect()
    }
    want = {
        (r["h"], r["event_type"]): (r["n_events"], r["value_sum"])
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("value_sum"),
        )
        .collect()
    }
    assert got == want and len(got) > 1


def test_stream_static_enrich_matches_batch(spark, sf_small):
    """Stream-static join: the streaming execution (static dim
    broadcast into each micro-batch, stateless join, watermarked
    window agg) must equal the batch equivalent."""
    from relational_query_engine_sql_spark.streaming import enrich_with_dim

    dim = load_table(spark, sf_small, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    stream = read_events_stream(spark, sf_small)
    assert stream.isStreaming
    _run_stream(enrich_with_dim(stream, dim), "enrich_out")
    got = {
        (r.window_start, r.c_mktsegment): (r.n, r.total_value)
        for r in spark.sql("SELECT * FROM enrich_out").collect()
    }
    batch = enrich_with_dim(load_table(spark, sf_small, "events"), dim)
    want = {
        (r.window_start, r.c_mktsegment): (r.n, r.total_value)
        for r in batch.collect()
    }
    assert got == want
    assert len(want) > 10


def test_cdc_apply_out_of_order_batches(spark, sf_small, tmp_path):
    """The ordered MERGE must converge to the batch latest-per-key
    state even when micro-batches deliver newer changes BEFORE older
    ones: events are split into three files carrying the newest third
    first, streamed one file per trigger, and the final mirror must
    equal the batch winner — plus a replay of the whole stream into
    the same table (fresh checkpoint, at-least-once redelivery) must
    leave the state unchanged (idempotence)."""
    from pyspark.sql import types as T

    from relational_query_engine_sql_spark.operators.mutation import (
        ParquetTable,
    )
    from relational_query_engine_sql_spark.streaming import apply_cdc_stream

    ev = (
        load_table(spark, sf_small, "events")
        .select("user_id", "ts", "event_id", "value")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(3000)
        .collect()
    )
    third = len(ev) // 3
    assert third >= 100, "need a non-trivial corpus per chunk"
    # newest third lands in the FIRST file, oldest in the last
    src = tmp_path / "cdc_src"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    bounds = [0, third, 2 * third, len(ev)]
    for i in range(3):
        chunk = spark.createDataFrame(
            ev[bounds[i] : bounds[i + 1]], schema
        )
        assert chunk.count() > 0
        chunk.coalesce(1).write.parquet(str(src / f"chunk{i}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "chunk*"))
    )
    table = ParquetTable(
        spark, str(tmp_path / "state"), schema, keys=["user_id"]
    )
    table.init(spark.createDataFrame([], schema))
    q = apply_cdc_stream(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination()
    assert q.lastProgress is not None

    want = {
        r["user_id"]: (r["ts"], r["event_id"], r["value"])
        for r in spark.createDataFrame(ev, schema)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("ts", "event_id", "value"),
                F.struct("ts", "event_id"),
            ).alias("w")
        )
        .select("user_id", "w.ts", "w.event_id", "w.value")
        .collect()
    }
    got = {
        r["user_id"]: (r["ts"], r["event_id"], r["value"])
        for r in table.read().collect()
    }
    assert got == want

    # redelivery: replay every file through a FRESH checkpoint — the
    # ordered update condition makes the apply a no-op
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "chunk*"))
    )
    q2 = apply_cdc_stream(stream2, table, str(tmp_path / "ckpt2"))
    q2.awaitTermination()
    got2 = {
        r["user_id"]: (r["ts"], r["event_id"], r["value"])
        for r in table.read().collect()
    }
    assert got2 == want


def test_cdc_apply_checkpoint_resume(spark, sf_small, tmp_path):
    """Restart semantics: a second availableNow run against the SAME
    checkpoint must process only files added after the first run
    (file-source exactly-once bookkeeping), and the state table must
    end equal to the batch winner over ALL delivered rows."""
    from pyspark.sql import types as T

    from relational_query_engine_sql_spark.operators.mutation import (
        ParquetTable,
    )
    from relational_query_engine_sql_spark.streaming import apply_cdc_stream

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    ev = (
        load_table(spark, sf_small, "events")
        .select("user_id", "ts", "event_id", "value")
        .orderBy("event_id")
        .limit(2000)
        .collect()
    )
    half = len(ev) // 2
    assert half >= 100, "need a non-trivial corpus per chunk"
    src = tmp_path / "src"
    src.mkdir()

    def reader():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "chunk*"))
        )

    table = ParquetTable(
        spark, str(tmp_path / "state"), schema, keys=["user_id"]
    )
    table.init(spark.createDataFrame([], schema))
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(ev[:half], schema).coalesce(1).write.parquet(
        str(src / "chunk0")
    )
    q1 = apply_cdc_stream(reader(), table, ckpt)
    q1.awaitTermination()

    spark.createDataFrame(ev[half:], schema).coalesce(1).write.parquet(
        str(src / "chunk1")
    )
    q2 = apply_cdc_stream(reader(), table, ckpt)
    q2.awaitTermination()
    # the resumed run saw only the new file's rows
    resumed_rows = sum(
        p["numInputRows"] for p in q2.recentProgress
    )
    assert resumed_rows == len(ev) - half, resumed_rows

    want = {
        r["user_id"]: (r["ts"], r["event_id"], r["value"])
        for r in spark.createDataFrame(ev, schema)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("ts", "event_id", "value"),
                F.struct("ts", "event_id"),
            ).alias("w")
        )
        .select("user_id", "w.ts", "w.event_id", "w.value")
        .collect()
    }
    got = {
        r["user_id"]: (r["ts"], r["event_id"], r["value"])
        for r in table.read().collect()
    }
    assert got == want


def test_tumbling_file_sink_checkpoint_restart(spark, sf_small, tmp_path):
    """The full production topology for stream_tumbling_hourly: file
    SOURCE → watermarked tumbling aggregate → append-mode parquet
    SINK, with a driver restart in the middle (second availableNow run
    against the same checkpoint). Proves the three things the
    registry's batch-equivalent row claims: (1) the resumed run reads
    only files added after the restart, (2) windows STRADDLING the
    restart are completed from checkpointed state, not dropped or
    double-counted, (3) the emitted window set equals the batch
    aggregate over everything delivered."""
    ev = (
        load_table(spark, sf_small, "events")
        .select("ts", "event_type", "value", "event_id")
        .orderBy("ts", "event_id")
        .limit(3000)
        .collect()
    )
    half = len(ev) // 2
    schema = "ts timestamp, event_type string, value double, event_id long"
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    src.mkdir()

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "chunk*"))
        )
        q = (
            tumbling_aggregate(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    # run 1: the time-ordered first half
    spark.createDataFrame(ev[:half], schema).coalesce(1).write.parquet(
        str(src / "chunk0")
    )
    run()

    # restart: second half plus a far-future sentinel that pushes the
    # watermark past every real window so append mode finalizes them
    # (the sentinel's own window stays in state, never emitted)
    spark.createDataFrame(ev[half:], schema).coalesce(1).write.parquet(
        str(src / "chunk1")
    )
    max_ts = max(r["ts"] for r in ev)
    import datetime

    sentinel = [
        (max_ts + datetime.timedelta(hours=10), "sentinel", 0.0, -1)
    ]
    spark.createDataFrame(sentinel, schema).coalesce(1).write.parquet(
        str(src / "chunk2")
    )
    q2 = run()
    resumed = sum(p["numInputRows"] for p in q2.recentProgress)
    assert resumed == len(ev) - half + 1, (
        f"resume re-read old files: {resumed} rows"
    )

    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.read.parquet(str(sink)).collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in tumbling_aggregate(
            spark.createDataFrame(ev, schema)
        ).collect()
    }
    assert got == want
    assert len(want) > 5
    # straddle sanity: at least one emitted window mixes rows from
    # both runs (the checkpointed-state completion path actually ran)
    mid_ts = ev[half]["ts"]
    straddled = [
        ws
        for (ws, _t) in want
        if ws <= mid_ts < ws + datetime.timedelta(hours=1)
    ]
    assert straddled, "no window straddles the restart boundary"


def test_stream_ingest_into_txnlog_table(spark, sf_small, tmp_path):
    """Streaming ingest landing in the COMMIT-LOG backend: each
    micro-batch's insert_ignore becomes one append-only commit (no
    table rewrite), redelivery through a fresh checkpoint is a no-op
    (idempotent sink on event_id), and the commit history records the
    batch structure — streaming exactly-once meeting the txnlog ACID
    surface."""
    from pyspark.sql import types as T

    from relational_query_engine_sql_spark.operators.txnlog import (
        TxnLogTable,
    )
    from relational_query_engine_sql_spark.streaming import (
        EVENTS_TABLE_SCHEMA,
    )

    schema = T.StructType(
        [f for f in EVENTS_TABLE_SCHEMA.fields]
    )
    t = TxnLogTable(
        spark, str(tmp_path / "state"), schema, keys=["event_id"]
    )
    t.init(spark.createDataFrame([], schema))

    stream = read_events_stream(spark, sf_small).select(
        *[f.name for f in schema.fields]
    )
    q = ingest_stream_to_table(stream, t, str(tmp_path / "ck1"))
    q.awaitTermination()
    want = load_table(spark, sf_small, "events").count()
    assert t.read().count() == want

    ops = [h["op"] for h in t.history()]
    assert ops[0] == "init" and "insert_ignore" in ops
    # append-only: no commit removed a file
    assert all(h["n_remove"] == 0 for h in t.history())

    # full redelivery via a FRESH checkpoint → idempotent no-op
    v_before = t.current_version()
    q2 = ingest_stream_to_table(
        read_events_stream(spark, sf_small).select(
            *[f.name for f in schema.fields]
        ),
        t,
        str(tmp_path / "ck2"),
    )
    q2.awaitTermination()
    assert t.read().count() == want
    # no new data landed — at most bookkeeping-free versions
    assert all(
        h["n_add"] == 0
        for h in t.history()
        if h["version"] > v_before
    )


def test_stream_stream_join_checkpoint_restart(spark, sf_small, tmp_path):
    """Stream-STREAM join with a driver restart in the middle: clicks
    arrive entirely in run 1, purchases entirely in run 2 (two
    independent file sources, both watermarked), so EVERY match
    depends on click join state being restored from the checkpoint
    across the restart. Final sink contents must equal the batch
    interval join — and run 2 must not re-read run 1's files."""
    from relational_query_engine_sql_spark.streaming import (
        purchase_click_attribution,
    )

    ev = load_table(spark, sf_small, "events").select(
        "ts", "event_type", "value", "event_id", "user_id"
    )
    schema = (
        "ts timestamp, event_type string, value double, "
        "event_id long, user_id long"
    )
    clicks = ev.filter(F.col("event_type") == "click").limit(800).collect()
    purchases = (
        ev.filter(F.col("event_type") == "purchase").limit(800).collect()
    )
    src_c, src_p = tmp_path / "clicks", tmp_path / "purchases"
    sink, ckpt = tmp_path / "sink", tmp_path / "ckpt"
    src_c.mkdir(), src_p.mkdir()

    def run():
        # one interleaved stream frame per source dir; the attribution
        # splits it into the two join sides (watermark on BOTH)
        def side(path):
            return spark.readStream.schema(schema).parquet(
                str(path / "chunk*")
            )

        joined = purchase_click_attribution(
            side(src_c).unionByName(side(src_p)),
            watermark="3650 days",  # > data span: no state eviction,
            # so batch equivalence is exact; the restart still proves
            # state RESTORE (that's what this test pins)
        )
        q = (
            joined.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    # run 1: clicks only — zero matches can emit, state is buffered
    spark.createDataFrame(clicks, schema).coalesce(1).write.parquet(
        str(src_c / "chunk0")
    )
    q1 = run()
    n1 = sum(p["numInputRows"] for p in q1.recentProgress)
    assert n1 == len(clicks)

    # restart: purchases land; every match joins against RESTORED
    # click state from the checkpoint
    spark.createDataFrame(purchases, schema).coalesce(1).write.parquet(
        str(src_p / "chunk0")
    )
    q2 = run()
    n2 = sum(p["numInputRows"] for p in q2.recentProgress)
    assert n2 == len(purchases), f"resume re-read run-1 files: {n2}"

    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.read.schema(
            "user_id long, purchase_id long, click_id long, "
            "purchase_ts timestamp, click_ts timestamp, value double"
        ).parquet(str(sink)).collect()
    }
    both = spark.createDataFrame(clicks + purchases, schema)
    want = {
        (r["purchase_id"], r["click_id"])
        for r in purchase_click_attribution(both).collect()
    }
    assert got == want
    assert len(want) > 0, "no cross-run matches — test is vacuous"


def test_exactly_once_ingest_survives_checkpoint_loss(
    spark, sf_small, tmp_path
):
    """The transactional foreachBatch sink: a SECOND pipeline run over
    the same source with a FRESH checkpoint re-delivers every
    micro-batch under the same batch ids — the txn markers make the
    replay a complete no-op, which key-based dedup could not promise
    for keyless rows."""
    import pyspark.sql.types as T

    from relational_query_engine_sql_spark.operators.txnlog import (
        TxnLogTable,
    )
    from relational_query_engine_sql_spark.streaming.events import (
        ingest_stream_exactly_once,
    )

    ev = load_table(spark, sf_small, "events")
    t = TxnLogTable(
        spark, str(tmp_path / "t"), ev.schema, ["event_id"]
    )
    t.init(ev.limit(0))

    q = ingest_stream_exactly_once(
        read_events_stream(spark, sf_small),
        t,
        str(tmp_path / "ckpt1"),
        app_id="e1",
    )
    q.awaitTermination()
    n_first = t.read().count()
    assert n_first == ev.count()
    v_first = t.current_version()

    # fresh checkpoint: every batch replays with the same batch ids
    q2 = ingest_stream_exactly_once(
        read_events_stream(spark, sf_small),
        t,
        str(tmp_path / "ckpt2"),
        app_id="e1",
    )
    q2.awaitTermination()
    assert t.read().count() == n_first
    assert t.current_version() == v_first  # not even a no-op commit


def test_stateful_totals_checkpoint_restart(spark, sf_small, tmp_path):
    """applyInPandasWithState under driver restart: the custom
    per-user (count, sum) state must be RESTORED from the checkpointed
    state store, not rebuilt from zero — the one stateful surface the
    other restart tests don't cover. Proves (1) the resumed run reads
    only post-restart files, (2) users spanning both runs carry their
    pre-restart totals forward (final row equals the batch aggregate
    over ALL events), (3) nothing double-counts on redelivery."""
    ev = (
        load_table(spark, sf_small, "events")
        .select("ts", "user_id", "value", "event_id")
        .orderBy("ts", "event_id")
        .limit(2000)
        .collect()
    )
    half = len(ev) // 2
    schema = "ts timestamp, user_id long, value double, event_id long"
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    src.mkdir()

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "chunk*"))
        )

        def emit(batch_df, batch_id):
            # update-mode emissions land with their batch id so the
            # LAST emission per user is recoverable from the sink
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(str(sink))

        q = (
            stateful_running_totals(stream)
            .writeStream.outputMode("update")
            .foreachBatch(emit)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    spark.createDataFrame(ev[:half], schema).coalesce(1).write.parquet(
        str(src / "chunk0")
    )
    run()

    spark.createDataFrame(ev[half:], schema).coalesce(1).write.parquet(
        str(src / "chunk1")
    )
    q2 = run()
    resumed = sum(p["numInputRows"] for p in q2.recentProgress)
    assert resumed == len(ev) - half, (
        f"resume re-read pre-restart files: {resumed} rows"
    )

    from pyspark.sql import Window

    out = spark.read.parquet(str(sink))
    last = (
        out.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("user_id", "n", "total")
    )
    got = {r["user_id"]: (r["n"], r["total"]) for r in last.collect()}
    want = {
        r["user_id"]: (r["n"], r["total"])
        for r in user_stats_batch_totals(spark, ev, schema).collect()
    }
    assert got == want
    # state actually crossed the restart: some user has rows in both
    # halves AND their final count covers both
    first_users = {r["user_id"] for r in ev[:half]}
    both = [
        r["user_id"]
        for r in ev[half:]
        if r["user_id"] in first_users
    ]
    assert both, "no user spans the restart — test data too small"
    spanning = both[0]
    n_all = sum(1 for r in ev if r["user_id"] == spanning)
    assert got[spanning][0] == n_all, (
        "state was rebuilt from zero instead of restored"
    )


def user_stats_batch_totals(spark, ev, schema):
    """Batch oracle for the stateful totals: per-user count and
    HALF_UP-rounded sum over the full event list — what the stateful
    operator's final emission per user must equal."""
    from relational_query_engine_sql_spark.streaming.events import (
        _round_half_up,
    )

    rows = {}
    for r in ev:
        t, n = rows.get(r["user_id"], (0.0, 0))
        rows[r["user_id"]] = (t + float(r["value"]), n + 1)
    return spark.createDataFrame(
        [
            (u, n, _round_half_up(t))
            for u, (t, n) in rows.items()
        ],
        "user_id long, n long, total double",
    )


def test_txnlog_table_as_streaming_source(spark, sf_small, tmp_path):
    """The txnlog table as a Structured Streaming SOURCE (Delta
    readStream parity, Spark 4 Python Data Source API): offsets are
    log versions, a checkpointed restart consumes exactly the commits
    that landed since, a non-append change fails loud by default, and
    ignoreChanges relaxes to adds-only delivery."""
    from relational_query_engine_sql_spark.operators.txnlog import (
        TxnLogTable,
    )
    from relational_query_engine_sql_spark.sources.txnlog_stream import (
        TxnLogStreamDataSource,
    )

    spark.dataSource.register(TxnLogStreamDataSource)
    ev = (
        load_table(spark, sf_small, "events")
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
        .limit(300)
    )
    t = TxnLogTable(
        spark,
        str(tmp_path / "t"),
        ev.schema,
        ["event_id"],
    )
    rows = ev.collect()
    t.init(spark.createDataFrame(rows[:200], ev.schema))
    t.append(spark.createDataFrame(rows[200:250], ev.schema))
    sink, ckpt = tmp_path / "sink", tmp_path / "ckpt"

    def run():
        q = (
            spark.readStream.format("txnlog")
            .option("path", str(tmp_path / "t"))
            .load()
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    run()
    assert spark.read.parquet(str(sink)).count() == 250
    # restart consumes ONLY the new commit
    t.append(spark.createDataFrame(rows[250:], ev.schema))
    q2 = run()
    assert sum(p["numInputRows"] for p in q2.recentProgress) == 50
    got = {r["event_id"] for r in spark.read.parquet(str(sink)).collect()}
    assert got == {r["event_id"] for r in rows}
    # inferred schema round-trips types
    assert (
        spark.read.parquet(str(sink)).schema.simpleString()
        == ev.schema.simpleString()
    )
    # a rewrite breaks the append-only contract loudly
    t.upsert(
        spark.createDataFrame([rows[0]], ev.schema).withColumn(
            "value", F.lit(0.0)
        )
    )
    import pyspark.errors

    with pytest.raises(Exception, match="append-only contract"):
        run()
    # ignoreChanges consumes adds-only without failing
    q3 = (
        spark.readStream.format("txnlog")
        .option("path", str(tmp_path / "t"))
        .option("ignoreChanges", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "sink2"))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q3.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "sink2")).count() >= 300


def test_txnlog_table_as_streaming_sink(spark, sf_small, tmp_path):
    """The txnlog table as an EXACTLY-ONCE streaming SINK: executors
    stage Arrow batches as immutable parquet with in-memory key
    stats, the driver lands each micro-batch + its txn marker in one
    CAS commit, a replay through a FRESH checkpoint (same appId) is a
    wholesale no-op, and constraint-gated tables are refused."""
    from relational_query_engine_sql_spark.operators.txnlog import (
        TxnLogTable,
    )
    from relational_query_engine_sql_spark.sources.txnlog_stream import (
        TxnLogStreamDataSource,
    )

    spark.dataSource.register(TxnLogStreamDataSource)
    schema = "event_id long, event_type string, value double"
    ev = (
        load_table(spark, sf_small, "events")
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
        .limit(400)
        .collect()
    )
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(ev[:300], schema).coalesce(1).write.parquet(
        str(src / "c0")
    )

    def run(ckpt):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "c*"))
            .writeStream.format("txnlog")
            .option("path", str(tmp_path / "table"))
            .option("checkpointLocation", str(ckpt))
            .option("appId", "ingest")
            .option("keys", "event_id")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(tmp_path / "ckpt")
    t = TxnLogTable(
        spark,
        str(tmp_path / "table"),
        spark.createDataFrame([], schema).schema,
        ["event_id"],
    )
    assert t.read().count() == 300
    # staged Arrow stats make the files prunable immediately
    assert all(
        (m.get("stats") or {}).get("event_id") for m in t._live().values()
    )
    # second wave through the SAME checkpoint
    spark.createDataFrame(ev[300:], schema).coalesce(1).write.parquet(
        str(src / "c1")
    )
    run(tmp_path / "ckpt")
    assert t.read().count() == 400
    # full replay via a FRESH checkpoint, same appId: exactly-once no-op
    run(tmp_path / "ckpt2")
    assert t.read().count() == 400
    got = {r["event_id"] for r in t.read().collect()}
    assert got == {r["event_id"] for r in ev}
    # constraint-gated tables refuse the sink (bypasses validation)
    t.add_constraint("pos", "value >= -1e18")
    spark.createDataFrame(ev[:1], schema).coalesce(1).write.parquet(
        str(src / "c2")
    )
    with pytest.raises(Exception, match="CHECK constraints"):
        run(tmp_path / "ckpt3")
    # and the refused batch left no debris: same live set, same count
    assert t.read().count() == 400


def test_stream_source_raises_on_deferred_delete(spark, tmp_path):
    """A delete_keys_deferred commit is add-only (the DV grows; no
    data file is removed), yet rows vanish from the table — the
    source's append-only contract must raise on it exactly as it does
    on a remove (Delta's readStream fails on DV deletes too);
    ignoreChanges relaxes to adds-only delivery with the documented
    no-retraction caveat."""
    from pyspark.sql import types as T

    from relational_query_engine_sql_spark.operators.txnlog import (
        TxnLogTable,
    )
    from relational_query_engine_sql_spark.sources.txnlog_stream import (
        TxnLogStreamDataSource,
    )

    spark.dataSource.register(TxnLogStreamDataSource)
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    t = TxnLogTable(spark, str(tmp_path / "t"), schema, ["k"])
    t.init(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], schema
        ).coalesce(1)
    )
    t.delete_keys_deferred(spark.createDataFrame([(3,)], "k long"))

    def run(sink, ckpt, **opts):
        reader = spark.readStream.format("txnlog").option(
            "path", str(tmp_path / "t")
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / sink))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(Exception, match="deferred delete"):
        run("sink1", "ckpt1")
    # ignoreChanges: adds-only, the DV is metadata, no retraction
    run("sink2", "ckpt2", ignoreChanges="true")
    got = spark.read.parquet(str(tmp_path / "sink2"))
    assert got.count() == 10
    assert {r["k"] for r in got.collect()} == set(range(10))


def test_stream_sink_conforms_to_table_schema(spark, tmp_path):
    """The sink must never let a stream's ad-hoc schema become the
    table's: a retyped column is refused loudly (else its data files
    mismatch the table's effective schema, and a checkpoint-crossing
    commit would persist the stream schema as authoritative for every
    reader); a merely REORDERED stream conforms, and the schema the
    sink's commit table persists is the TABLE's, not the stream's."""
    from pyspark.sql import types as T

    from relational_query_engine_sql_spark.operators.txnlog import (
        TxnLogTable,
    )
    from relational_query_engine_sql_spark.sources.txnlog_stream import (
        TxnLogStreamDataSource,
        TxnLogStreamWriter,
    )

    spark.dataSource.register(TxnLogStreamDataSource)
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    t = TxnLogTable(spark, str(tmp_path / "table"), schema, ["k"])
    t.init(
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], schema)
    )

    def run(src_name, ddl, rows, ckpt):
        src = tmp_path / src_name
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(
            str(src / "c0")
        )
        q = (
            spark.readStream.schema(ddl)
            .parquet(str(src / "c*"))
            .writeStream.format("txnlog")
            .option("path", str(tmp_path / "table"))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .option("appId", src_name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # retyped column (val string) → refused, no debris
    with pytest.raises(Exception, match="does not conform"):
        run(
            "bad",
            "k long, grp string, val string",
            [(3, "c", "oops")],
            "ckpt_bad",
        )
    assert t.read().count() == 2
    # reordered columns conform (files are read by name)
    run(
        "reord",
        "val double, k long, grp string",
        [(3.0, 3, "c")],
        "ckpt_ok",
    )
    got = {r["k"]: (r["grp"], r["val"]) for r in t.read().collect()}
    assert got[3] == ("c", 3.0)
    # the schema the sink's commit table would persist into a
    # checkpoint is the TABLE's (inferred from the log/data), not the
    # stream's reordered one
    w = TxnLogStreamWriter(
        {"path": str(tmp_path / "table")},
        T.StructType(
            [schema["val"], schema["k"], schema["grp"]]
        ),
    )
    assert [f.name for f in w._table().schema.fields] == ["k", "grp", "val"]


def test_txnlog_source_windowed_state_survives_restart(
    spark, sf_small, tmp_path
):
    """Composition of the txnlog streaming source with Spark's
    stateful window aggregation across a checkpoint restart: the
    restarted run must consume ONLY the new commit, yet windows that
    span both waves must show the UNION's totals — i.e. the restored
    aggregation state was updated by wave 2, not rebuilt from a
    re-read of wave 1."""
    from relational_query_engine_sql_spark.operators.txnlog import (
        TxnLogTable,
    )
    from relational_query_engine_sql_spark.sources.txnlog_stream import (
        TxnLogStreamDataSource,
    )
    from relational_query_engine_sql_spark.streaming.events import (
        tumbling_aggregate,
    )

    spark.dataSource.register(TxnLogStreamDataSource)
    ev = (
        load_table(spark, sf_small, "events")
        .select("event_id", "ts", "event_type", "value")
        .orderBy("event_id")
        .limit(400)
    )
    # parity split ⇒ both waves share hours, so shared windows UPDATE
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    n_second = second.count()
    t = TxnLogTable(spark, str(tmp_path / "t"), ev.schema, ["event_id"])
    t.init(first)

    def run(name):
        q = (
            tumbling_aggregate(
                spark.readStream.format("txnlog")
                .option("path", str(tmp_path / "t"))
                .load(),
                window="1 hour",
            )
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(p["numInputRows"] for p in q.recentProgress)

    run("txnwin_a")
    after_1 = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.table("txnwin_a").collect()
    }
    t.append(second)
    consumed = run("txnwin_b")
    assert consumed == n_second  # restart read exactly the new commit
    after_2 = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.table("txnwin_b").collect()
    }
    # final state equals the batch aggregate over BOTH waves
    want = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in tumbling_aggregate(ev, window="1 hour").collect()
    }
    assert after_2 == want
    # and at least one window visible after wave 1 GREW — state was
    # updated across the restart, not recomputed from a full re-read
    grew = [k for k in after_1 if after_2.get(k, 0) > after_1[k]]
    assert grew, "no shared window updated across the restart"


def test_txnlog_source_max_files_per_trigger(spark, tmp_path):
    """maxFilesPerTrigger (Delta's admission control): once the stream
    has caught up, each subsequent trigger ingests at most N data
    files — pending commits drain in bounded batches, never one giant
    catch-up batch. Exactly-once totals hold across the bounded
    drain."""
    from relational_query_engine_sql_spark.operators.txnlog import (
        TxnLogTable,
    )
    from relational_query_engine_sql_spark.sources.txnlog_stream import (
        TxnLogStreamDataSource,
    )

    from pyspark.sql import types as T

    spark.dataSource.register(TxnLogStreamDataSource)
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )

    def rows(lo, hi):
        return spark.range(lo, hi).coalesce(1).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        )

    t = TxnLogTable(spark, str(tmp_path / "t"), schema, ["k"])
    t.init(rows(0, 10))  # v0: one file
    batches: list[tuple[int, int]] = []
    q = (
        spark.readStream.format("txnlog")
        .option("path", t.path)
        .option("maxFilesPerTrigger", "2")
        .load()
        .writeStream.foreachBatch(
            lambda df, b: batches.append((b, df.count()))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="5 seconds")
        .start()
    )
    q.processAllAvailable()  # catch-up batch (unbounded by design)
    # six single-file commits land inside ONE trigger gap, so the next
    # trigger sees all six pending — the limit must split the drain
    for i in range(1, 7):
        t.append(rows(i * 10, i * 10 + 10))
    q.processAllAvailable()
    q.stop()
    post = [c for _, c in batches[1:]]
    assert sum(c for _, c in batches) == 70  # exactly-once, no loss
    assert post, "no post-catchup batches"
    assert max(post) <= 20, f"a batch exceeded 2 files: {batches}"
    assert len(post) >= 3, f"6 files must take >= 3 bounded batches: {batches}"


@pytest.mark.parametrize(
    "name", ["stream_txnlog_sink", "stream_txnlog_rowid_sink"]
)
def test_txnlog_sink_starts_on_a_thread_without_active_session(
    spark, sf_small, name
):
    """The writer resolves ``format("txnlog")`` through the JVM thread's
    active session; a query started on a thread that has none (a fresh
    worker of a query pool) must still find the registered source."""
    import threading

    from pyspark.sql import SparkSession

    from relational_query_engine_sql_spark import plans

    jsession = SparkSession._get_j_spark_session_class(spark._jvm)
    out: dict = {}

    def run():
        jsession.clearActiveSession()
        try:
            out["rows"] = plans.get(name).fn(spark, sf_small).collect()
        except Exception as e:  # noqa: BLE001 - asserted below
            out["err"] = e

    t = threading.Thread(target=run)
    t.start()
    t.join()
    assert "err" not in out, out.get("err")
    assert out["rows"]


def test_txnlog_sink_commit_reads_each_entry_once(tmp_path, monkeypatch):
    """One sink micro-batch commit replays the log once: on a table 9
    entries past its checkpoint, the protocol/mapping gates, the
    schema resolution, the constraint and txn-marker checks and the
    checkpoint the commit writes share one table, so no log entry is
    read twice. Driver-side only: the sink stages Arrow files itself,
    so no session is involved."""
    from collections import Counter

    import pyarrow as pa
    from pyspark.sql import types as T

    import relational_query_engine_sql_spark.operators.txnlog as txn
    from relational_query_engine_sql_spark.sources.txnlog_stream import (
        TxnLogStreamWriter,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    path = str(tmp_path / "table")

    def batch(i):
        return pa.record_batch(
            [pa.array([i], pa.int64()), pa.array([f"r{i}"], pa.string())],
            names=["k", "v"],
        )

    def sink_commit(i):
        w = TxnLogStreamWriter({"path": path, "keys": "k"}, schema)
        w.commit([w.write(iter([batch(i)]))], i)

    every = txn.CHECKPOINT_EVERY
    for i in range(2 * every):  # v0 .. v(2*every-1)
        sink_commit(i)
    probe = txn.TxnLogTable(None, path, schema, [])
    head = probe.current_version()
    assert head == 2 * every - 1
    assert os.path.exists(probe._ckpt_path(every))
    assert not os.path.exists(probe._ckpt_path(head))

    reads: Counter = Counter()
    real_entry = txn.TxnLogTable._entry

    def counting_entry(self, v):
        reads[v] += 1
        return real_entry(self, v)

    monkeypatch.setattr(txn.TxnLogTable, "_entry", counting_entry)
    sink_commit(2 * every)  # commits v(2*every): a checkpoint crossing
    assert probe.current_version() == 2 * every
    assert os.path.exists(probe._ckpt_path(2 * every))
    assert reads, "the commit replayed nothing"
    assert max(reads.values()) == 1, dict(reads)
    assert set(reads) <= set(range(every + 1, 2 * every + 1))
    # the checkpoint persists the table's schema and every txn marker
    state = txn.TxnLogTable(None, path, T.StructType([]), [])
    assert state._schema_at(None).fieldNames() == ["k", "v"]
    assert state._txn_markers(2 * every) == {"txnlog-sink": 2 * every}
