"""Source/sink round-trip queries: the ingest paths under the oracle.

Each query writes a driver table out through a sink (CSV, JSONL), reads
it back through the schema-pinned ingest contract (explicit StructType,
PERMISSIVE parse, quarantine side-channel — sources/csv_ingest.py,
sources/jsonl.py), and returns the re-read rows. The oracle reads the
original parquet directly, so a hash match proves the round-trip is
lossless — types, nulls, and value formatting all survive.

Scratch directories live under the system tmpdir (the returned frames
read from them lazily). Registered at priority 60 (the next round's
checked prefix).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from ..sources.jsonl import read_jsonl, write_jsonl
from .registry import query


@query(
    "src_csv_roundtrip",
    # S8: the reference's export sink (chart.js:33-58 renders query
    # results out of the database); the engine analog is a tabular CSV
    # export, verified lossless by the re-read.
    survey="src:csv,S8",
    priority=60,
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    out = tempfile.mkdtemp(prefix="rqe-csv-") + "/customer"
    cust.write.mode("overwrite").option("header", True).csv(out)
    back = (
        spark.read.schema(cust.schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(out)
    )
    return back.select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


@query(
    "src_orc_roundtrip",
    survey="src:orc",
    priority=60,
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    """,
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source round-trip.

    ORC is Spark's second first-class columnar format (native reader
    with predicate pushdown + column pruning, same as parquet); at
    100 TB the ingest side of a pipeline frequently lands as ORC from
    Hive-era producers. The oracle reads the original parquet, so the
    hash match proves the format conversion is lossless.
    """
    sup = load_table(spark, sf_dir, "supplier")
    out = tempfile.mkdtemp(prefix="rqe-orc-") + "/supplier"
    sup.write.mode("overwrite").orc(out)
    back = spark.read.schema(sup.schema).orc(out)
    return back.select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")


@query(
    "src_partitioned_pruning",
    survey="src:partitioned-parquet,F5",
    priority=60,
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def src_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet write + partition-pruned read.

    The 100 TB layout lever: writing the fact table partitioned on its
    hot filter column turns a full scan into a directory prune — the
    filtered read below touches only 2 of 5 partition directories
    (tests/test_round3_ops.py pins ``PartitionFilters`` in the physical
    plan and that no data filter remains). The oracle reads the
    original table with the same predicate, proving the partitioned
    round-trip loses nothing.
    """
    orders = load_table(spark, sf_dir, "orders")
    out = tempfile.mkdtemp(prefix="rqe-part-") + "/orders"
    orders.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    back = spark.read.parquet(out)
    return back.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")


@query(
    "src_jsonl_roundtrip",
    survey="src:jsonl",
    priority=60,
    oracle="""
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
    FROM documents
    """,
)
def src_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="rqe-jsonl-") + "/documents"
    write_jsonl(docs, out)
    good, quarantine = read_jsonl(spark, out, docs.schema)
    # a lossless round-trip quarantines nothing; surface a violation as
    # an empty result rather than silently passing partial data through
    ok = quarantine.isEmpty()
    frame = good if ok else good.limit(0)
    return frame.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5(F.encode("text", "UTF-8")).alias("text_md5"),
    )


@query(
    "src_schema_evolution",
    survey="src:schema-evolution",
    priority=60,
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CAST(NULL AS INTEGER) AS n_priority
    FROM nation
    UNION ALL
    SELECT n_nationkey + 900, n_name, n_regionkey,
           n_regionkey * 10 AS n_priority
    FROM nation
    """,
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution round-trip: a second producer starts writing an
    extra column into an existing parquet dataset and readers must see
    the union schema with NULL backfill for old files — the standard
    additive-column evolution every long-lived 100 TB dataset goes
    through. The write lands the v2 batch as additional files in the
    same directory; the read uses ``mergeSchema`` so footer schemas
    union instead of first-file-wins. The oracle states the same
    post-state declaratively (old rows NULL, new rows populated).
    """
    nat = load_table(spark, sf_dir, "nation")
    out = tempfile.mkdtemp(prefix="rqe-evolve-") + "/nation"
    nat.write.mode("overwrite").parquet(out)
    v2 = nat.select(
        (F.col("n_nationkey") + 900).alias("n_nationkey"),
        "n_name",
        "n_regionkey",
        (F.col("n_regionkey") * 10).alias("n_priority"),
    )
    v2.write.mode("append").parquet(out)
    back = spark.read.option("mergeSchema", True).parquet(out)
    return back.select(
        "n_nationkey", "n_name", "n_regionkey", "n_priority"
    )


@query(
    "src_nested_struct_pruning",
    survey="src:nested-struct,S1",
    priority=60,
    oracle="""
    SELECT o_orderkey,
           o_totalprice AS price,
           o_orderstatus AS status
    FROM orders
    """,
)
def src_nested_struct_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct columns with leaf-level scan pruning — the event
    payloads of a 100 TB pipeline are deeply nested, and reading the
    whole struct to project one leaf multiplies scan bytes. Orders are
    written as a two-level struct parquet (header.{status,priority},
    amounts.{total,weighted}), read back projecting two leaves; with
    nested schema pruning the ReadSchema keeps only the projected
    leaves (pinned in tests/test_plan_properties.py). The oracle reads
    the flat original — a hash match proves nesting and un-nesting is
    lossless."""
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    nested = orders.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        ).alias("header"),
        F.struct(
            F.col("o_totalprice").alias("total"),
            (F.col("o_totalprice") * (1 - 0.04)).alias("weighted"),
        ).alias("amounts"),
    )
    out = tempfile.mkdtemp(prefix="rqe-nested-") + "/orders_nested"
    nested.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.select(
        "o_orderkey",
        F.col("amounts.total").alias("price"),
        F.col("header.status").alias("status"),
    )


# --------------------------------------------------------------------------
# S8 — chart sink, full analog (src/routes/chart.js:9-66): the daily
# close series for one key over a date range (timestamp::date BETWEEN,
# ORDER BY, last-60 slice — chart.js:13-27), rendered to an 800×400
# line-chart FILE by sources/chart_sink.py (SVG instead of the
# reference's QuickChart PNG round-trip — deterministic and
# dependency-free; the query result is what the driver hash-checks,
# the file write is the sink side-effect exactly like the CSV export).
# --------------------------------------------------------------------------
@query(
    "s8_chart_daily_close",
    survey="S8,F2,O1,O4",
    priority=60,
    oracle="""
    SELECT day, close FROM (
        SELECT CAST(ts AS DATE) AS day,
               MAX_BY(value, printf('%020d%020d', epoch_us(ts), event_id))
                   AS close
        FROM events
        WHERE event_type = 'purchase'
          AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-12-31'
        GROUP BY 1
        ORDER BY day DESC LIMIT 60
    ) t ORDER BY day
    """,
)
def s8_chart_daily_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    from ..sources.chart_sink import write_chart

    ev = load_table(spark, sf_dir, "events")
    series = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & F.col("ts").cast("date").between("2024-01-01", "2024-12-31")
        )
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.max_by("value", F.struct("ts", "event_id")).alias("close")
        )
    )
    sliced = (
        series.orderBy(F.col("day").desc())
        .limit(60)
        .orderBy(F.col("day").asc())
    )
    out = write_chart(
        sliced,
        _tf.mkdtemp(prefix="rqe-chart-"),
        "purchase_2024",
        "day",
        "close",
        "PURCHASE Price",
    )
    assert out.endswith(".svg")
    return sliced


# --------------------------------------------------------------------------
# The txnlog table read through spark.read.format("txnlog") — the
# BATCH Data Source reader (Delta's spark.read.format("delta") parity,
# sources/txnlog_stream.py TxnLogBatchReader). The scenario exercises
# every read-path feature in one table: merge-on-read deletion
# vectors subtracted per-partition executor-side, column mapping
# (rename after the first era), and versionAsOf time travel back to
# the pre-rename, pre-delete snapshot — emitted as two era-tagged
# slices whose union the oracle reconstructs from the raw parquet.
# In-plan, the format reader's rows are asserted identical to
# TxnLogTable.read at both versions (the library path is the
# pruning/anti-join reference implementation).
# --------------------------------------------------------------------------
@query(
    "src_txnlog_batch_reader",
    survey="beyond:txnlog,beyond:batch-source,S1",
    priority=60,
    oracle="""
    SELECT 'v0' AS era, c_custkey, c_name AS name, c_acctbal,
           TRUE AS matches_library_read
    FROM customer
    UNION ALL
    SELECT 'cur' AS era, c_custkey, c_name AS name, c_acctbal,
           TRUE AS matches_library_read
    FROM customer WHERE c_custkey % 11 <> 0
    """,
)
def src_txnlog_batch_reader(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.txnlog import TxnLogTable
    from ..sources.txnlog_stream import register_txnlog

    register_txnlog(spark)
    src = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    root = tempfile.mkdtemp(prefix="rqe-src-txnb-")
    t = TxnLogTable(spark, f"{root}/c", src.schema, ["c_custkey"])
    t.init(src)  # v0
    t.delete_keys_deferred(
        src.filter(F.col("c_custkey") % 11 == 0).select("c_custkey")
    )  # v1: DV-only delete
    t.rename_column("c_name", "name")  # v2: column mapping

    def fmt(**opts):
        r = spark.read.format("txnlog").option("path", t.path)
        for k, v in opts.items():
            r = r.option(k, str(v))
        return r.load()

    cur, old = fmt(), fmt(versionAsOf=0)
    parity = (
        cur.count() == t.read().count()
        and old.count() == t.read(0).count()
        and cur.columns == ["c_custkey", "name", "c_acctbal"]
        and old.columns == ["c_custkey", "c_name", "c_acctbal"]
    )
    assert parity, "format reader diverged from TxnLogTable.read"
    flag = F.lit(parity).alias("matches_library_read")
    return old.select(
        F.lit("v0").alias("era"),
        "c_custkey",
        F.col("c_name").alias("name"),
        "c_acctbal",
        flag,
    ).unionByName(
        cur.select(
            F.lit("cur").alias("era"),
            "c_custkey",
            "name",
            "c_acctbal",
            flag,
        )
    )
