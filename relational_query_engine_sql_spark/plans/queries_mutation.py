"""Mutation write-path queries (SURVEY.md §2.1 S3–S7, §2.10 U2).

The reference mutates rows in PostgreSQL (INSERT / ON CONFLICT /
UPDATE / DELETE CASCADE — src/routes/stocks.js:137-142,
lists.js:483-491, portfolio.js:110-114, trading.js:81-200,
sql/schema.sql FK CASCADE decls). Spark-side, each write is a batch
recompute over :class:`~..operators.mutation.ParquetTable` (read →
transform → atomic swap).

To give the write paths a *hard* driver correctness signal, every
query here clones the needed driver table(s) into a scratch parquet
directory, applies the mutation through the real write path, and
returns the **post-state** as a DataFrame. The DuckDB oracle expresses
the same post-state as a pure SELECT over the untouched source views
(UNION ALL for inserts, CASE for updates, NOT IN for cascades) — an
independent replay of the reference's row semantics.

Scratch directories live under the system tmpdir for the lifetime of
the process (the returned frames read from them lazily).
"""

from __future__ import annotations

import tempfile
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mutation import ParquetTable, cascade_delete
from ..session import run_independent
from ..sources import load_table, local_frame
from .registry import query


def _clone(spark: SparkSession, sf_dir: str, name: str, keys: list[str]) -> ParquetTable:
    """Copy a driver table into a scratch ParquetTable (real write path,
    isolated from the read-only testdata directory)."""
    src = load_table(spark, sf_dir, name)
    root = tempfile.mkdtemp(prefix=f"rqe-mutq-{name}-")
    table = ParquetTable(spark, f"{root}/{name}", src.schema, keys)
    table.init(src)
    return table


def _clones(
    spark: SparkSession, sf_dir: str, specs: list[tuple[str, list[str]]]
) -> list[ParquetTable]:
    """Clone several driver tables CONCURRENTLY (guide §2.6: the init
    writes are independent Spark jobs; actions are only sequential
    because driver code calls them sequentially, so a small thread
    pool lets each init's tail back-fill the executors the others
    free). Scenario walls at bench scale are job-launch latency, not
    data volume — overlapping the inits removes most of that fixed
    cost, and on a real cluster the same overlap fills the stragglers'
    idle capacity."""
    return run_independent(
        spark, *[partial(_clone, spark, sf_dir, *s) for s in specs]
    )


# --------------------------------------------------------------------------
# S3 — plain row append (INSERT ... RETURNING, stocks.js:126-155).
# --------------------------------------------------------------------------
@query(
    "s3_row_append",
    survey="S3",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    UNION ALL
    SELECT CAST(900 AS INTEGER), 'ATLANTIS', CAST(0 AS INTEGER)
    UNION ALL
    SELECT CAST(901 AS INTEGER), 'ELBONIA', CAST(1 AS INTEGER)
    """,
)
def s3_row_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _clone(spark, sf_dir, "nation", ["n_nationkey"])
    rows = local_frame(
        spark, [(900, "ATLANTIS", 0), (901, "ELBONIA", 1)], schema=t.schema
    )
    t.append(rows)
    return t.read()


# --------------------------------------------------------------------------
# S4 — idempotent insert (ON CONFLICT DO NOTHING, stocks.js:137-142):
# the batch carries one key collision (nationkey 0) that must be
# silently dropped and one genuinely new row that must land.
# --------------------------------------------------------------------------
@query(
    "s4_insert_ignore",
    survey="S4",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    UNION ALL
    SELECT CAST(902 AS INTEGER), 'NARNIA', CAST(2 AS INTEGER)
    """,
)
def s4_insert_ignore(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _clone(spark, sf_dir, "nation", ["n_nationkey"])
    rows = local_frame(
        spark, [(0, "SHOULD NOT LAND", 9), (902, "NARNIA", 2)], schema=t.schema
    )
    t.insert_ignore(rows)
    return t.read()


# --------------------------------------------------------------------------
# S5 — upsert (ON CONFLICT ... DO UPDATE SET col = EXCLUDED.col,
# lists.js:483-491): the colliding row REPLACES the existing one.
# --------------------------------------------------------------------------
@query(
    "s5_upsert",
    survey="S5",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey = 0 THEN 'UPDATED ZERO' ELSE n_name END
               AS n_name,
           CASE WHEN n_nationkey = 0 THEN CAST(4 AS INTEGER)
                ELSE n_regionkey END AS n_regionkey
    FROM nation
    UNION ALL
    SELECT CAST(903 AS INTEGER), 'VALINOR', CAST(3 AS INTEGER)
    """,
)
def s5_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _clone(spark, sf_dir, "nation", ["n_nationkey"])
    rows = local_frame(
        spark, [(0, "UPDATED ZERO", 4), (903, "VALINOR", 3)], schema=t.schema
    )
    t.upsert(rows)
    return t.read()


# --------------------------------------------------------------------------
# S6 — conditional UPDATE with arithmetic + COALESCE partial update
# (CashBalance = CashBalance + $1, SET Name = COALESCE($1, Name) —
# portfolio.js:110-114,162-164).
# --------------------------------------------------------------------------
@query(
    "s6_conditional_update",
    survey="S6,E4",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_mktsegment = 'BUILDING'
                THEN COALESCE(NULL, c_name) ELSE c_name END AS c_name,
           c_nationkey,
           CASE WHEN c_mktsegment = 'BUILDING'
                THEN ROUND(c_acctbal + 100.0, 2) ELSE c_acctbal END
               AS c_acctbal,
           CASE WHEN c_mktsegment = 'BUILDING'
                THEN 'UPGRADED' ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    """,
)
def s6_conditional_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _clone(spark, sf_dir, "customer", ["c_custkey"])
    t.update(
        F.col("c_mktsegment") == "BUILDING",
        {
            # COALESCE(NULL, Name) — the reference's partial-update
            # idiom: an absent param leaves the column unchanged.
            "c_name": F.coalesce(F.lit(None), F.col("c_name")),
            "c_acctbal": F.round(F.col("c_acctbal") + 100.0, 2),
            "c_mktsegment": F.lit("UPGRADED"),
        },
    )
    return t.read()


# --------------------------------------------------------------------------
# S7 — DELETE with FK ON DELETE CASCADE (sql/schema.sql:21,28,36,44:
# region ← nation ← {customer, supplier} here). Deleting region 0 must
# take down its nations and their customers/suppliers, nothing else.
# The result is the tagged union of surviving keys at every level —
# row-level verification of the whole cascade.
# --------------------------------------------------------------------------
@query(
    "s7_cascade_delete",
    survey="S7",
    oracle="""
    SELECT 'region' AS tbl, CAST(r_regionkey AS BIGINT) AS k
    FROM region WHERE r_regionkey <> 0
    UNION ALL
    SELECT 'nation', CAST(n_nationkey AS BIGINT)
    FROM nation WHERE n_regionkey <> 0
    UNION ALL
    SELECT 'customer', CAST(c_custkey AS BIGINT)
    FROM customer WHERE c_nationkey IN
        (SELECT n_nationkey FROM nation WHERE n_regionkey <> 0)
    UNION ALL
    SELECT 'supplier', CAST(s_suppkey AS BIGINT)
    FROM supplier WHERE s_nationkey IN
        (SELECT n_nationkey FROM nation WHERE n_regionkey <> 0)
    """,
)
def s7_cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    region, nation, customer, supplier = _clones(
        spark,
        sf_dir,
        [
            ("region", ["r_regionkey"]),
            ("nation", ["n_nationkey"]),
            ("customer", ["c_custkey"]),
            ("supplier", ["s_suppkey"]),
        ],
    )
    cascade_delete(
        region,
        F.col("r_regionkey") == 0,
        children=[
            (
                nation,
                [{"n_regionkey": "r_regionkey"}],
                [
                    (customer, [{"c_nationkey": "n_nationkey"}], []),
                    (supplier, [{"s_nationkey": "n_nationkey"}], []),
                ],
            )
        ],
    )

    def tagged(df: DataFrame, tbl: str, key: str) -> DataFrame:
        return df.select(
            F.lit(tbl).alias("tbl"), F.col(key).cast("bigint").alias("k")
        )

    return (
        tagged(region.read(), "region", "r_regionkey")
        .unionByName(tagged(nation.read(), "nation", "n_nationkey"))
        .unionByName(tagged(customer.read(), "customer", "c_custkey"))
        .unionByName(tagged(supplier.read(), "supplier", "s_suppkey"))
    )


# --------------------------------------------------------------------------
# U2 — trade application (trading.js:81-200): BUY accumulates shares at
# a weighted-average cost basis, SELL decrements shares leaving the
# average unchanged, a position sold to zero is tombstoned (avg NULL).
#
# Trades derive deterministically from lineitem: every line is a BUY
# (shares = quantity, ts = shipdate); lines with orderkey % 7 = 0 also
# emit a later 1-share SELL (ts = shipdate + 5000 days puts every sell
# after every buy, so no sell can be rejected). The price is a pure
# function of the symbol, which keeps the sequential fold's incremental
# average EXACT in binary floating point (p·(s+n)/(s+n) == p) — the
# closed-form oracle below is therefore bit-identical, not
# approximately equal. Multi-price folds (where the incremental average
# is genuinely path-dependent) are pinned against a Python reference in
# tests/test_mutation.py.
# --------------------------------------------------------------------------
_U2_ORACLE = """
    WITH t AS (
        SELECT CAST(l_suppkey % 100 AS INTEGER) AS portfolioid,
               'S' || CAST(l_partkey % 25 AS VARCHAR) AS symbol,
               CAST(l_quantity AS INTEGER) AS sh,
               CAST(l_partkey % 25 * 3 + 7 AS DOUBLE) AS price,
               CASE WHEN l_orderkey % 7 = 0 THEN 1 ELSE 0 END AS sold
        FROM lineitem
    )
    SELECT portfolioid, symbol,
           CAST(SUM(sh) - SUM(sold) AS INTEGER) AS shares,
           CASE WHEN SUM(sh) - SUM(sold) = 0 THEN NULL
                ELSE ROUND(SUM(sh * price) / SUM(sh), 4) END AS avgprice,
           0 AS rejected
    FROM t GROUP BY portfolioid, symbol
"""


@query("u2_apply_trades", survey="U2,A8", oracle=_U2_ORACLE)
def u2_apply_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.trading import apply_trades

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_suppkey") % 100).cast("int").alias("portfolioid"),
        F.concat(F.lit("S"), (F.col("l_partkey") % 25).cast("string")).alias(
            "symbol"
        ),
        F.col("l_quantity").cast("int").alias("shares"),
        (F.col("l_partkey") % 25 * 3 + 7).cast("double").alias("price"),
        F.col("l_shipdate").cast("timestamp").alias("ts"),
        F.col("l_orderkey").alias("_ok"),
    )
    buys = base.select(
        "portfolioid", "symbol", F.lit("BUY").alias("side"), "shares", "price", "ts"
    )
    sells = base.filter(F.col("_ok") % 7 == 0).select(
        "portfolioid",
        "symbol",
        F.lit("SELL").alias("side"),
        F.lit(1).alias("shares"),
        "price",
        (F.col("ts") + F.expr("INTERVAL 5000 DAYS")).alias("ts"),
    )
    holdings = local_frame(
        spark,
        [], "portfolioid int, symbol string, shares int, avgprice double"
    )
    return apply_trades(holdings, buys.unionByName(sells)).select(
        "portfolioid",
        "symbol",
        "shares",
        "avgprice",
        F.col("rejected").cast("int").alias("rejected"),
    )


# --------------------------------------------------------------------------
# Incremental materialized-view maintenance: an hourly events rollup
# kept current by merging only the delta window through the real
# upsert write path (S5 machinery), never recomputing history. The
# accumulators are DECIMAL — addition is exact and associative, so
# base ⊕ delta is bit-identical to the full recompute the oracle
# runs; doubles would drift here (round(a)+round(b) ≠ round(a+b)).
# The cutoff deliberately lands mid-hour so delta buckets genuinely
# MERGE into existing rows, not just append.
#
# At 100 TB this is the rollup-refresh contract: per refresh, work =
# O(delta) + an upsert keyed on (event_type, bucket); on Delta/Iceberg
# the same frame feeds MERGE INTO and only touched partitions rewrite.
# --------------------------------------------------------------------------
_MV_CUTOFF = "2024-01-25 12:30:00"


@query(
    "mv_incremental_rollup",
    survey="beyond:incremental-mv,S5,A1",
    priority=60,
    oracle="""
    SELECT event_type,
           date_trunc('hour', ts) AS bucket,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,6))), 2) AS DOUBLE)
               AS sum_value
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    """,
)
def mv_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    ev = load_table(spark, sf_dir, "events")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bucket")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("sum_dec"),
        )

    cutoff = F.lit(_MV_CUTOFF).cast("timestamp")
    base = rollup(ev.filter(F.col("ts") < cutoff))
    root = _tf.mkdtemp(prefix="rqe-mv-rollup-")
    mv = ParquetTable(
        spark, f"{root}/events_hourly", base.schema,
        ["event_type", "bucket"],
    )
    mv.init(base)

    delta = rollup(ev.filter(F.col("ts") >= cutoff))
    prior = mv.read().select(
        "event_type", "bucket",
        F.col("n_events").alias("_n0"),
        F.col("sum_dec").alias("_s0"),
    )
    merged = (
        delta.join(prior, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            (F.coalesce("_n0", F.lit(0)) + F.col("n_events")).alias(
                "n_events"
            ),
            (
                F.coalesce(
                    "_s0", F.lit(0).cast(base.schema["sum_dec"].dataType)
                )
                + F.col("sum_dec")
            ).alias("sum_dec"),
        )
    )
    mv.upsert(merged)
    return mv.read().select(
        "event_type",
        "bucket",
        "n_events",
        F.round("sum_dec", 2).cast("double").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# Small-files compaction (ParquetTable.compact): fragment the events
# clone into 64 splinter files (a streaming-ingest afternoon), compact
# to 4, and return the content aggregate — the oracle proves the
# rewrite changed layout, not data. tests/test_mutation.py pins the
# file-count drop itself.
# --------------------------------------------------------------------------
@query(
    "maintenance_compaction",
    survey="beyond:compaction,S1",
    priority=60,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,6))), 2) AS DOUBLE)
               AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def maintenance_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    ev = load_table(spark, sf_dir, "events")
    root = _tf.mkdtemp(prefix="rqe-compact-")
    t = ParquetTable(spark, f"{root}/events", ev.schema, ["event_id"])
    t.init(ev.repartition(64))
    t.compact(4)
    return t.read().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(27,6)")), 2
        ).cast("double").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# S10 — snapshot time travel (VersionedParquetTable): clone supplier,
# run a real upsert that rewrites every balance, then time-travel back
# to version 0. The oracle is the UNTOUCHED supplier view — a hash
# match proves the pre-mutation snapshot survived the write byte-for-
# byte (Delta/Iceberg VERSION AS OF semantics on plain parquet).
# tests/test_mutation.py additionally pins the current version's
# post-state, the version chain, and vacuum retention.
# --------------------------------------------------------------------------
@query(
    "s10_time_travel",
    survey="beyond:time-travel,S5",
    priority=60,
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """,
)
def s10_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mutation import VersionedParquetTable

    src = load_table(spark, sf_dir, "supplier")
    root = tempfile.mkdtemp(prefix="rqe-timetravel-")
    t = VersionedParquetTable(
        spark, f"{root}/supplier", src.schema, ["s_suppkey"]
    )
    t.init(src)
    t.upsert(src.withColumn("s_acctbal", F.col("s_acctbal") + 100.0))
    return t.read(version=0).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


# --------------------------------------------------------------------------
# Full MERGE with mixed actions (Delta-style MERGE INTO; the superset
# of the reference's ON CONFLICT upsert + keyed delete spread across
# lists.js:483-491 / stocks.js:187-189): one source batch carries
# updates (flag U), deletes (flag D) and brand-new rows, and a single
# keyed full-outer join applies all three. The update additionally
# has a target-side condition (only BUILDING customers move) —
# MERGE's WHEN MATCHED AND <cond> form.
# --------------------------------------------------------------------------
@query(
    "s11_merge_mixed",
    survey="S4,S5,S7,ext:merge",
    priority=60,
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 7 = 0 AND c_mktsegment = 'BUILDING'
                THEN ROUND(c_acctbal + 1000, 2) ELSE c_acctbal END
               AS c_acctbal,
           c_mktsegment
    FROM customer
    WHERE c_custkey % 7 <> 3
    UNION ALL
    SELECT 90001, 'Customer#MERGE1', CAST(0 AS INTEGER), 111.25, 'BUILDING'
    UNION ALL
    SELECT 90002, 'Customer#MERGE2', CAST(1 AS INTEGER), 222.5, 'MACHINERY'
    """,
)
def s11_merge_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _clone(spark, sf_dir, "customer", ["c_custkey"])
    cust = load_table(spark, sf_dir, "customer")
    upd = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.lit("U").alias("flag"),
        "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
    )
    dele = cust.filter(F.col("c_custkey") % 7 == 3).select(
        "c_custkey", F.lit("D").alias("flag"),
        "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
    )
    new = local_frame(
        spark,
        [
            (90001, "I", "Customer#MERGE1", 0, 111.25, "BUILDING"),
            (90002, "I", "Customer#MERGE2", 1, 222.5, "MACHINERY"),
        ],
        schema=upd.schema,
    )
    source = upd.unionByName(dele).unionByName(new)
    t.merge(
        source,
        update_assign={
            "c_acctbal": F.round(F.col("c_acctbal") + 1000, 2)
        },
        update_cond=(F.col("_s_flag") == "U")
        & (F.col("c_mktsegment") == "BUILDING"),
        delete_cond=F.col("_s_flag") == "D",
    )
    return t.read()


# --------------------------------------------------------------------------
# Retraction-aware MV maintenance: CDC deletes SUBTRACT from the
# keyed aggregate (negative-weight partials), inserts add, and groups
# whose count reaches zero are physically removed — the full
# incremental-view algebra, not just the additive half
# (mv_incremental_rollup). The oracle recomputes the rollup from the
# post-change event set, so the green row proves add/retract/merge is
# exactly equivalent to recomputation.
# --------------------------------------------------------------------------
@query(
    "mv_rollup_retractions",
    survey="beyond:incremental-mv-retractions,S5,A1",
    priority=60,
    oracle="""
    WITH post AS (
        SELECT event_type, ts, value FROM events
        WHERE event_id % 97 <> 0
        UNION ALL
        SELECT event_type, ts, value + 10.0 AS value FROM events
        WHERE event_id % 89 = 0
    )
    SELECT event_type, date_trunc('hour', ts) AS bucket,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,6))), 2) AS DOUBLE)
               AS sum_value
    FROM post GROUP BY 1, 2
    """,
)
def mv_rollup_retractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly MV maintained through a mixed CDC batch: every 97th
    event is retracted (op −1), a +10-valued copy of every 89th event
    is inserted (op +1). Deltas aggregate signed partials per key —
    map-side combinable exactly like the additive path, because
    (count, decimal-sum) is an abelian group, not just a monoid —
    then one keyed merge applies them and zero-count groups are
    deleted from the table. At 100 TB the change batch, not the MV,
    drives the cost: the merge touches only keys present in the
    delta."""
    import tempfile as _tf

    ev = load_table(spark, sf_dir, "events")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bucket")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("sum_dec"),
        )

    base = rollup(ev)
    root = _tf.mkdtemp(prefix="rqe-mv-retract-")
    mv = ParquetTable(
        spark,
        f"{root}/events_hourly",
        base.schema,
        ["event_type", "bucket"],
    )
    mv.init(base)

    changes = ev.filter(F.col("event_id") % 97 == 0).select(
        "event_type", "ts", "value", F.lit(-1).alias("op")
    ).unionByName(
        ev.filter(F.col("event_id") % 89 == 0).select(
            "event_type",
            "ts",
            (F.col("value") + 10.0).alias("value"),
            F.lit(1).alias("op"),
        )
    )
    delta = changes.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.sum("op").alias("_nd"),
        F.sum(F.col("op") * F.col("value").cast("decimal(27,6)")).alias(
            "_sd"
        ),
    )
    prior = mv.read().select(
        "event_type",
        "bucket",
        F.col("n_events").alias("_n0"),
        F.col("sum_dec").alias("_s0"),
    )
    merged = delta.join(prior, ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        (F.coalesce("_n0", F.lit(0)) + F.col("_nd")).alias("n_events"),
        (
            F.coalesce("_s0", F.lit(0).cast(base.schema["sum_dec"].dataType))
            + F.col("_sd").cast(base.schema["sum_dec"].dataType)
        ).alias("sum_dec"),
    )
    # pin the merged deltas before mutating: both subsets' lineage
    # reads the MV's current files, which upsert is about to replace
    # (same staging rule as the cascade delete, operators/mutation.py)
    merged = merged.localCheckpoint(eager=True)
    mv.upsert(merged.filter(F.col("n_events") > 0))
    emptied = merged.filter(F.col("n_events") <= 0).select(
        "event_type", "bucket"
    )
    mv.delete_keys(emptied)
    return mv.read().select(
        "event_type",
        "bucket",
        "n_events",
        F.round("sum_dec", 2).cast("double").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# S12 (beyond) — optimistic concurrency: the Delta/Iceberg writer
# protocol on the versioned table. Two writers both prepare against
# v0; A commits (v1), B's stale CAS MUST conflict, then B rebases by
# re-deriving its change from the new head and commits v2. The final
# state carries both changes — the oracle replays them as pure CASE
# arithmetic. The conflict is asserted inside the query: if the CAS
# ever stops conflicting, the query errors rather than silently
# passing a broken protocol.
# --------------------------------------------------------------------------
@query(
    "s12_optimistic_retry",
    survey="beyond:optimistic-concurrency,S5",
    priority=60,
    oracle="""
    SELECT c_custkey,
           ROUND(c_acctbal
                 + CASE WHEN c_custkey % 2 = 0 THEN 100.0 ELSE 0 END
                 + CASE WHEN c_custkey % 3 = 0 THEN 50.0 ELSE 0 END,
                 2) AS bal,
           2 AS committed_version
    FROM customer
    """,
)
def s12_optimistic_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mutation import CommitConflict, VersionedParquetTable

    src = load_table(spark, sf_dir, "customer")
    root = tempfile.mkdtemp(prefix="rqe-occ-")
    t = VersionedParquetTable(
        spark, f"{root}/customer", src.schema, ["c_custkey"]
    )
    t.init(src)  # v0

    def bump(df: DataFrame, mod: int, amount: float) -> DataFrame:
        return df.withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % mod == 0,
                F.col("c_acctbal") + amount,
            ).otherwise(F.col("c_acctbal")),
        )

    base = t.read(0)
    a_change = bump(base, 2, 100.0)
    b_stale = bump(base, 3, 50.0)
    assert t.commit_as(a_change, 0) == 1  # writer A wins
    try:
        t.commit_as(b_stale, 0)
        raise AssertionError("stale CAS must conflict")  # pragma: no cover
    except CommitConflict:
        pass
    v = t.modify_with_retry(lambda df: bump(df, 3, 50.0))
    assert v == 2
    return t.read().select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("bal"),
        F.lit(v).alias("committed_version"),
    )


# --------------------------------------------------------------------------
# S13-S15 + txnlog maintenance — the SAME reference mutation semantics
# (ON CONFLICT DO UPDATE sql/schema.sql:101-110; MERGE superset of
# lists.js:483-491 / stocks.js:187-189) on the transaction-log backend
# (operators/txnlog.py): immutable data files + JSON commit log,
# file-level copy-on-write with key-stats pruning, CAS commits. Each
# query reuses its full-rewrite twin's oracle, so a green row is a
# hash-level proof the two backends implement identical semantics —
# the "both backends" gate for the mutation family.
# --------------------------------------------------------------------------
def _clone_txn(
    spark: SparkSession, sf_dir: str, name: str, keys: list[str]
):
    from ..operators.txnlog import TxnLogTable

    src = load_table(spark, sf_dir, name)
    root = tempfile.mkdtemp(prefix=f"rqe-txn-{name}-")
    table = TxnLogTable(spark, f"{root}/{name}", src.schema, keys)
    table.init(src)
    return table


@query(
    "s13_txnlog_merge_mixed",
    survey="S4,S5,S7,ext:merge,beyond:txnlog",
    priority=60,
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 7 = 0 AND c_mktsegment = 'BUILDING'
                THEN ROUND(c_acctbal + 1000, 2) ELSE c_acctbal END
               AS c_acctbal,
           c_mktsegment
    FROM customer
    WHERE c_custkey % 7 <> 3
    UNION ALL
    SELECT 90001, 'Customer#MERGE1', CAST(0 AS INTEGER), 111.25, 'BUILDING'
    UNION ALL
    SELECT 90002, 'Customer#MERGE2', CAST(1 AS INTEGER), 222.5, 'MACHINERY'
    """,
)
def s13_txnlog_merge_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _clone_txn(spark, sf_dir, "customer", ["c_custkey"])
    cust = load_table(spark, sf_dir, "customer")
    upd = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.lit("U").alias("flag"),
        "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
    )
    dele = cust.filter(F.col("c_custkey") % 7 == 3).select(
        "c_custkey", F.lit("D").alias("flag"),
        "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
    )
    new = local_frame(
        spark,
        [
            (90001, "I", "Customer#MERGE1", 0, 111.25, "BUILDING"),
            (90002, "I", "Customer#MERGE2", 1, 222.5, "MACHINERY"),
        ],
        schema=upd.schema,
    )
    t.merge(
        upd.unionByName(dele).unionByName(new),
        update_assign={
            "c_acctbal": F.round(F.col("c_acctbal") + 1000, 2)
        },
        update_cond=(F.col("_s_flag") == "U")
        & (F.col("c_mktsegment") == "BUILDING"),
        delete_cond=F.col("_s_flag") == "D",
    )
    return t.read()


@query(
    "s14_txnlog_optimistic_retry",
    survey="beyond:optimistic-concurrency,beyond:txnlog,S5",
    priority=60,
    oracle="""
    SELECT c_custkey,
           ROUND(c_acctbal
                 + CASE WHEN c_custkey % 2 = 0 THEN 100.0 ELSE 0 END
                 + CASE WHEN c_custkey % 3 = 0 THEN 50.0 ELSE 0 END,
                 2) AS bal,
           2 AS committed_version
    FROM customer
    """,
)
def s14_txnlog_optimistic_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s12's two-writer CAS race, on the commit-log backend: the
    conflict detector is open(log-entry, 'x') instead of a version-
    directory rename — the protocol Delta puts on its log entry."""
    from ..operators.mutation import CommitConflict

    t = _clone_txn(spark, sf_dir, "customer", ["c_custkey"])

    def bump(df: DataFrame, mod: int, amount: float) -> DataFrame:
        return df.withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % mod == 0,
                F.col("c_acctbal") + amount,
            ).otherwise(F.col("c_acctbal")),
        )

    base = t.read(0)
    assert t.commit_as(bump(base, 2, 100.0), 0) == 1  # writer A wins
    try:
        t.commit_as(bump(base, 3, 50.0), 0)
        raise AssertionError("stale CAS must conflict")  # pragma: no cover
    except CommitConflict:
        pass
    v = t.modify_with_retry(lambda df: bump(df, 3, 50.0))
    assert v == 2
    return t.read().select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("bal"),
        F.lit(v).alias("committed_version"),
    )


@query(
    "s15_txnlog_time_travel",
    survey="beyond:time-travel,beyond:txnlog,S5",
    priority=60,
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """,
)
def s15_txnlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s10's snapshot time travel on the commit-log backend, with the
    write PRUNED: the table lands as four key-range files and the
    upsert touches keys in one range, so three files must survive by
    identity — asserted in-query. The oracle (untouched supplier)
    hash-proves v0 replay; the assert proves the 100 TB property (a
    narrow upsert is not a table rewrite)."""
    from ..operators.txnlog import TxnLogTable

    src = load_table(spark, sf_dir, "supplier")
    root = tempfile.mkdtemp(prefix="rqe-txn-tt-")
    t = TxnLogTable(spark, f"{root}/supplier", src.schema, ["s_suppkey"])
    t.init(src.repartitionByRange(4, "s_suppkey"))
    before = set(t._live())

    low = src.orderBy("s_suppkey").limit(2)
    t.upsert(low.withColumn("s_acctbal", F.col("s_acctbal") + 100.0))
    survivors = before & set(t._live())
    assert len(survivors) >= len(before) - 1, (
        f"pruned upsert rewrote {len(before) - len(survivors)} of "
        f"{len(before)} files — file skipping is broken"
    )
    return t.read(version=0).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


@query(
    "maintenance_txnlog_history",
    survey="beyond:txnlog,beyond:maintenance",
    priority=60,
    oracle="""
    SELECT * FROM (VALUES
        (0, 'init', 0),
        (1, 'append', 0),
        (2, 'upsert', 1),
        (3, 'delete_keys', 1),
        (4, 'compact', 3)
    ) AS h(version, op, n_remove)
    """,
)
def maintenance_txnlog_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The commit log itself as a query: a scripted mutation sequence
    whose per-commit REMOVE counts are fully determined by the
    file-skipping rules (the append's key range is disjoint from the
    init's, so the upsert/delete rewrite exactly one file; compact
    rewrites the three live files). A hash-green row pins the commit
    protocol's observable behavior, not just the table contents."""
    from ..operators.txnlog import TxnLogTable

    nat = load_table(spark, sf_dir, "nation")
    root = tempfile.mkdtemp(prefix="rqe-txn-hist-")
    t = TxnLogTable(spark, f"{root}/nation", nat.schema, ["n_nationkey"])
    t.init(nat.coalesce(1))  # v0: one file, keys 0..24
    shifted = nat.select(
        (F.col("n_nationkey") + 1000).alias("n_nationkey"),
        "n_name", "n_regionkey",
    )
    t.append(shifted.coalesce(1))  # v1: one file, keys 1000..1024
    t.upsert(  # v2: overlaps ONLY the appended file
        local_frame(spark, [(1001, "UPDATED", 0)], nat.schema)
    )
    t.delete_keys(  # v3: key 1002 lives only in v2's kept-rows file
        local_frame(spark, [(1002,)], "n_nationkey int")
    )
    t.compact(1)  # v4: rewrites the 3 live files into 1
    return local_frame(
        spark,
        [(h["version"], h["op"], h["n_remove"]) for h in t.history()],
        "version int, op string, n_remove int",
    )


@query(
    "s16_txnlog_schema_evolution",
    survey="beyond:schema-evolution,beyond:txnlog",
    priority=60,
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
           CASE WHEN s_acctbal >= 5000 THEN 'gold'
                WHEN s_acctbal >= 0 THEN 'std'
                ELSE 'watch' END AS tier
    FROM supplier
    """,
)
def s16_txnlog_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ADD COLUMNS on the commit-log backend as a
    metadata-only commit (zero files rewritten — asserted), then a
    conditional UPDATE fills the new column: the add-column +
    backfill cycle every warehouse runs. Old rows read NULL until the
    backfill; the oracle is the tier CASE over the original table."""
    from ..operators.txnlog import TxnLogTable

    src = load_table(spark, sf_dir, "supplier")
    root = tempfile.mkdtemp(prefix="rqe-txn-evo-")
    t = TxnLogTable(spark, f"{root}/supplier", src.schema, ["s_suppkey"])
    t.init(src)
    files_before = set(t._live())
    t.add_columns({"tier": "string"})
    assert set(t._live()) == files_before, "add_columns rewrote data"
    assert t.read().filter(F.col("tier").isNotNull()).count() == 0
    t.update(
        F.lit(True),
        {
            "tier": F.when(F.col("s_acctbal") >= 5000, "gold")
            .when(F.col("s_acctbal") >= 0, "std")
            .otherwise("watch")
        },
    )
    return t.read().select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal", "tier"
    )


@query(
    "maintenance_txnlog_cluster",
    survey="beyond:txnlog,beyond:zorder-layout",
    priority=60,
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """,
)
def maintenance_txnlog_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered compaction (OPTIMIZE ZORDER shape) on the commit-log
    backend: four hash-mixed appends (suppkey % 4 slices) give every
    file a near-full key range, so a point-keyed write would rewrite
    all of them; compact(cluster_by=key) range-sorts the rewrite and
    the same probe prunes to one file. Both facts asserted in-query;
    the oracle pins content preservation across the clustered
    rewrite."""
    from ..operators.txnlog import TxnLogTable

    src = load_table(spark, sf_dir, "supplier")
    root = tempfile.mkdtemp(prefix="rqe-txn-cluster-")
    t = TxnLogTable(spark, f"{root}/supplier", src.schema, ["s_suppkey"])
    for m in range(4):
        t.append(src.filter(F.col("s_suppkey") % 4 == m).coalesce(1))
    mid = src.agg(
        F.percentile_approx("s_suppkey", 0.5).alias("m")
    ).first()["m"]
    probe = local_frame(spark, [(int(mid),)], "s_suppkey long")
    assert (
        len(t._affected(probe, use_bloom=False)) == 4
    ), "expected hash-mixed ranges"
    t.compact(4, cluster_by=["s_suppkey"])
    n = len(t._affected(probe, use_bloom=False))
    assert n == 1, f"clustered probe hit {n} files"
    return t.read().select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


@query(
    "s17_txnlog_merge_on_read",
    survey="beyond:txnlog,beyond:deletion-vectors,S5,S7",
    priority=60,
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 11 = 3 AND c_custkey % 2 = 0
                THEN 0.0 ELSE c_acctbal END AS c_acctbal,
           CASE WHEN c_custkey % 11 = 3 AND c_custkey % 2 = 0
                THEN 'REACTIVATED' ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    WHERE c_custkey % 11 <> 3 OR c_custkey % 2 = 0
    """,
)
def s17_txnlog_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector cycle (Delta/Iceberg v2 merge-on-read):
    delete_keys_deferred tombstones every 11th customer WITHOUT
    touching a data file (asserted — the delete is metadata-speed at
    any table size), reads subtract the DV via one broadcast
    anti-join, and upserting the even half back atomically shrinks the
    DV so exactly those rows resurrect. The oracle replays the
    survivor set + reactivation in pure SQL."""
    from ..operators.txnlog import TxnLogTable

    src = load_table(spark, sf_dir, "customer")
    root = tempfile.mkdtemp(prefix="rqe-txn-mor-")
    t = TxnLogTable(spark, f"{root}/customer", src.schema, ["c_custkey"])
    t.init(src)
    data_before = set(t._split_live()[0])
    doomed = src.filter(F.col("c_custkey") % 11 == 3).select("c_custkey")
    t.delete_keys_deferred(doomed)
    assert set(t._split_live()[0]) == data_before, (
        "deferred delete touched data files"
    )
    back = src.filter(
        (F.col("c_custkey") % 11 == 3) & (F.col("c_custkey") % 2 == 0)
    ).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("REACTIVATED").alias("c_mktsegment"),
    )
    t.upsert(back)
    return t.read()


@query(
    "s18_txnlog_composite_prune",
    survey="beyond:txnlog,beyond:data-skipping",
    priority=60,
    oracle="""
    WITH src AS (
        SELECT l_orderkey, l_linenumber, MAX(l_quantity) AS l_quantity
        FROM lineitem GROUP BY 1, 2
    )
    SELECT l.l_orderkey, l.l_linenumber,
           CASE WHEN l.l_orderkey = (SELECT MIN(l_orderkey) FROM src)
                THEN l.l_quantity + 100.0 ELSE l.l_quantity END AS qty,
           4 AS files_first_key_only, 1 AS files_both_keys
    FROM src l
    """,
)
def s18_txnlog_composite_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-PK file skipping (the reference's (symbol, timestamp)
    Stocks key, sql/schema.sql:1-10): the table is keyed
    (l_linenumber, l_orderkey) and laid out as four orderkey-range
    files, so every file spans the FULL linenumber range — first-key
    stats alone cannot prune at all (4 candidate files), while
    per-column stats on BOTH keys prune the same upsert to exactly one
    file. Both counts ride the result columns, so the driver
    hash-checks the pruning behavior itself, not just the table
    contents; the oracle replays the mutation in SQL.

    The synthetic lineitem is NOT unique on (l_orderkey,
    l_linenumber) — sf0.1 has ~118k duplicate pairs — and a keyed
    table requires unique keys (upsert's last-wins merge would
    silently collapse duplicates the SQL oracle keeps). So the table
    is initialized from a deterministic keyed-distinct snapshot
    (MAX(l_quantity) per key), mirrored by the oracle's ``src`` CTE."""
    from ..operators.txnlog import TxnLogTable

    src = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.max("l_quantity").alias("l_quantity"))
    )
    root = tempfile.mkdtemp(prefix="rqe-txn-comp-")
    t = TxnLogTable(
        spark, f"{root}/li", src.schema, ["l_linenumber", "l_orderkey"]
    )
    t.init(src.repartitionByRange(4, "l_orderkey"))
    mn = src.agg(F.min("l_orderkey")).first()[0]
    incoming = src.filter(F.col("l_orderkey") == mn).withColumn(
        "l_quantity", F.col("l_quantity") + 100.0
    )
    wide = len(t._affected(incoming.select("l_linenumber")))
    narrow = len(t._affected(incoming.select("l_linenumber", "l_orderkey")))
    assert narrow < wide, (
        f"composite stats pruned {narrow} vs first-key {wide}"
    )
    t.upsert(incoming)
    return t.read().select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("qty"),
        F.lit(wide).alias("files_first_key_only"),
        F.lit(narrow).alias("files_both_keys"),
    )


# --------------------------------------------------------------------------
# S19: file-level Bloom index for point lookups. The table layout is
# hash-shuffled on a NON-key column, so every file spans nearly the
# full custkey range and min/max stats cannot prune a point lookup at
# all (the candidate count == the file count). The per-file Bloom
# masks written with the add-actions prune the same lookup to the
# owner files (+ rare false positives) — Delta's file-level bloom
# index mechanic, reference point-lookup route
# /root/reference/src/routes/stocks.js:18-24. The audit literals ride
# the result so the driver hash-checks the pruning behavior, not just
# the rows; the strict inequality is asserted in-plan (exact
# candidate counts vary with SF through bloom false positives, so
# only the guaranteed-deterministic facts are hashed).
# --------------------------------------------------------------------------
@query(
    "s19_txnlog_bloom_lookup",
    survey="beyond:txnlog,beyond:bloom-index,S2",
    priority=60,
    oracle="""
    WITH k AS (
        SELECT MIN(c_custkey) AS mn, MAX(c_custkey) AS mx FROM customer
    ),
    mid AS (
        SELECT MAX(c_custkey) AS md
        FROM customer, k
        WHERE c_custkey <= (k.mn + k.mx) // 2
    )
    SELECT c.c_custkey, c.c_name, c.c_acctbal,
           TRUE AS range_prune_useless, TRUE AS bloom_pruned
    FROM customer c, k, mid
    WHERE c.c_custkey IN (k.mn, k.mx, mid.md)
    ORDER BY c.c_custkey
    """,
)
def s19_txnlog_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.txnlog import TxnLogTable

    cust = load_table(spark, sf_dir, "customer")
    root = tempfile.mkdtemp(prefix="rqe-txn-bloom-")
    t = TxnLogTable(spark, f"{root}/c", cust.schema, ["c_custkey"])
    # hash-shuffle by name: every file spans ~the full custkey range
    t.init(cust.repartition(8, "c_name"))
    n_files = t.file_count()

    r = cust.agg(
        F.min("c_custkey").alias("mn"), F.max("c_custkey").alias("mx")
    ).first()
    mid = (
        cust.filter(F.col("c_custkey") <= (r["mn"] + r["mx"]) // 2)
        .agg(F.max("c_custkey"))
        .first()[0]
    )
    probes = [r["mn"], mid, r["mx"]]

    range_only = len(
        t._affected(
            local_frame(
                spark, [(int(v),) for v in probes], "c_custkey bigint"
            ),
            use_bloom=False,
        )
    )
    cands = len(t.lookup_candidates(probes))
    assert range_only == n_files, (
        f"range stats pruned unexpectedly: {range_only}/{n_files}"
    )
    assert cands < n_files, (
        f"bloom did not prune: {cands}/{n_files} candidates"
    )
    return (
        t.lookup(probes)
        .select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.lit(range_only == n_files).alias("range_prune_useless"),
            F.lit(cands < n_files).alias("bloom_pruned"),
        )
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# S20: data-skipping SCAN from the txnlog stats — min/max file
# skipping on a NON-key column. Write-time stats now cover the
# indexed non-key columns too (Delta's dataSkippingNumIndexedCols
# cap), so a date-range read on a date-clustered layout touches
# O(selectivity) files instead of all of them — the lakehouse answer
# to the reference's date-window queries
# (/root/reference/src/routes/stocks.js:26-31) at 100 TB. The pruning
# inequality is asserted in-plan (exact candidate counts vary by SF);
# the returned rows hash against the plain SQL window so the pruned
# scan is proven exactly equal to the unpruned one.
# --------------------------------------------------------------------------
@query(
    "s20_txnlog_stats_scan",
    survey="beyond:txnlog,beyond:data-skipping,F2",
    priority=60,
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice,
           TRUE AS scan_was_pruned
    FROM orders
    WHERE o_orderdate BETWEEN DATE '1997-03-01' AND DATE '1997-05-31'
    """,
)
def s20_txnlog_stats_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from ..operators.txnlog import TxnLogTable

    orders = load_table(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="rqe-txn-scan-")
    t = TxnLogTable(spark, f"{root}/o", orders.schema, ["o_orderkey"])
    # date-clustered layout: disjoint o_orderdate ranges per file
    t.init(orders.repartitionByRange(8, "o_orderdate"))
    n_files = t.file_count()

    lo, hi = dt.date(1997, 3, 1), dt.date(1997, 5, 31)
    cands = len(t.scan_candidates("o_orderdate", lo, hi))
    assert cands < n_files, (
        f"stats did not prune the scan: {cands}/{n_files}"
    )
    return t.read_where("o_orderdate", lo, hi).select(
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.lit(cands < n_files).alias("scan_was_pruned"),
    )


# --------------------------------------------------------------------------
# S21: OPTIMIZE ZORDER inside the table format. compact(zorder_by=..)
# Morton-clusters the rewrite (operators/layout.py), so the logged
# per-file stats become tight 2-D bounding boxes and range scans on
# EITHER dimension skip files — lexicographic clustering can only do
# that for its leading column. Both pruning facts are asserted
# in-plan; the returned customer-window rows hash against plain SQL,
# proving the z-clustered, stats-pruned scan is exactly the unpruned
# answer.
# --------------------------------------------------------------------------
@query(
    "s21_txnlog_zorder_scan",
    survey="beyond:txnlog,beyond:zorder,F2",
    priority=60,
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
           TRUE AS pruned_custkey_scan, TRUE AS pruned_date_scan
    FROM orders
    WHERE o_custkey BETWEEN 10 AND 100
    """,
)
def s21_txnlog_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from ..operators.txnlog import TxnLogTable

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_orderday",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).cast("int"),
    )
    root = tempfile.mkdtemp(prefix="rqe-txn-zorder-")
    t = TxnLogTable(spark, f"{root}/o", orders.schema, ["o_orderkey"])
    # hash-mixed initial layout: neither dimension prunes anything
    t.init(orders.repartition(8, "o_orderkey"))
    n0 = t.file_count()
    # pruning probes: ~5% of each dimension's span, derived from the
    # data so they stay narrow at every SF (the RETURNED window below
    # is a fixed literal for the oracle; these probe the layout)
    r = orders.agg(
        F.min("o_custkey").alias("kmn"), F.max("o_custkey").alias("kmx")
    ).first()
    k_lo, k_hi = r["kmn"], r["kmn"] + max(1, (r["kmx"] - r["kmn"]) // 20)
    pre_k = len(t.scan_candidates("o_custkey", k_lo, k_hi))
    assert pre_k == n0, f"expected no pruning pre-zorder: {pre_k}/{n0}"

    t.compact(8, zorder_by=("o_custkey", "o_orderday"))
    n_files = t.file_count()
    k_cands = len(t.scan_candidates("o_custkey", k_lo, k_hi))
    d_cands = len(
        t.scan_candidates(
            "o_orderdate", dt.date(1997, 3, 1), dt.date(1997, 5, 31)
        )
    )
    assert k_cands < n_files, f"custkey scan unpruned: {k_cands}/{n_files}"
    assert d_cands < n_files, f"date scan unpruned: {d_cands}/{n_files}"
    return t.read_where("o_custkey", 10, 100).select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        F.lit(k_cands < n_files).alias("pruned_custkey_scan"),
        F.lit(d_cands < n_files).alias("pruned_date_scan"),
    )


# --------------------------------------------------------------------------
# S22: RESTORE TABLE TO VERSION AS OF — the incident-response
# primitive. A bad pipeline write (corrupting upsert + cascade of
# deletes) is undone by ONE metadata-only commit that re-points the
# live set at the old snapshot's files: zero data rewritten (asserted
# in-plan by comparing the physical file census before/after), the
# bad era stays time travelable, and the restore is itself a commit
# so the audit trail is complete. The oracle is plain SELECT of the
# source: a green hash proves the restored table IS the pre-incident
# snapshot, bit for bit.
# --------------------------------------------------------------------------
@query(
    "s22_txnlog_restore",
    survey="beyond:txnlog,beyond:time-travel,S10",
    priority=60,
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
           TRUE AS restore_was_metadata_only
    FROM supplier
    """,
)
def s22_txnlog_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from ..operators.txnlog import TxnLogTable

    sup = load_table(spark, sf_dir, "supplier")
    root = tempfile.mkdtemp(prefix="rqe-txn-restore-")
    t = TxnLogTable(spark, f"{root}/s", sup.schema, ["s_suppkey"])
    t.init(sup.repartition(4, "s_name"))  # v0, multi-file

    # the incident: a corrupting upsert, then a broad delete
    t.upsert(
        sup.limit(5).withColumn("s_acctbal", F.lit(-1.0).cast("double"))
    )
    t.delete(F.col("s_nationkey") < 10)
    v_bad = t.current_version()

    def census() -> set:
        out = set()
        for d_, _, fs in _os.walk(f"{root}/s"):
            out |= {f for f in fs if f.endswith(".parquet")}
        return out

    before = census()
    t.restore(0)
    metadata_only = census() == before
    assert metadata_only, "restore wrote data files"
    assert t.history()[-1]["op"] == "restore"
    assert t.read(v_bad).count() < sup.count()  # bad era still auditable
    return t.read().select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        "s_acctbal",
        F.lit(metadata_only).alias("restore_was_metadata_only"),
    )


# --------------------------------------------------------------------------
# S23: CHECK constraints in the table format (Delta ALTER TABLE ADD
# CONSTRAINT). ADD validates existing rows first; thereafter every
# write is validated inside its write-time stats pass (zero extra
# jobs), and a violating write never lands — no commit, no staged
# file debris, table bit-identical. The oracle is plain SELECT of the
# source: the green hash IS the proof the rejected write changed
# nothing; enforcement facts are asserted in-plan.
# --------------------------------------------------------------------------
@query(
    "s23_txnlog_check_constraint",
    survey="beyond:txnlog,beyond:constraints,S6",
    priority=60,
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal,
           TRUE AS violation_rejected
    FROM supplier
    """,
)
def s23_txnlog_check_constraint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.txnlog import ConstraintViolation, TxnLogTable

    sup = load_table(spark, sf_dir, "supplier")
    root = tempfile.mkdtemp(prefix="rqe-txn-check-")
    t = TxnLogTable(spark, f"{root}/s", sup.schema, ["s_suppkey"])
    t.init(sup)
    t.add_constraint("acctbal_floor", "s_acctbal >= -1000.0")
    v0 = t.current_version()

    rejected = False
    try:
        t.upsert(
            sup.limit(3).withColumn(
                "s_acctbal",
                F.lit(-99999.0).cast(sup.schema["s_acctbal"].dataType),
            )
        )
    except ConstraintViolation:
        rejected = True
    assert rejected, "violating upsert was not rejected"
    assert t.current_version() == v0, "rejected write committed"
    return t.read().select(
        "s_suppkey",
        "s_name",
        "s_acctbal",
        F.lit(rejected).alias("violation_rejected"),
    )


# --------------------------------------------------------------------------
# S24: SHALLOW CLONE — branch a table for dev/test at metadata cost.
# The clone's v0 re-references the source's live files by absolute
# path (zero parquet copied — asserted in-plan by a file census of
# the clone dir before its first write); a corrupting experiment on
# the clone leaves the source bit-identical (asserted by comparing
# snapshots); and the clone's own writes diverge it. The oracle
# replays the clone's mutation in SQL over the source, so the green
# hash proves the diverged clone's exact contents.
# --------------------------------------------------------------------------
@query(
    "s24_txnlog_shallow_clone",
    survey="beyond:txnlog,beyond:clone,S5",
    priority=60,
    oracle="""
    SELECT s_suppkey, s_name,
           CASE WHEN s_suppkey <= 3 THEN 0.0 ELSE s_acctbal END
               AS s_acctbal,
           TRUE AS clone_was_zero_copy, TRUE AS source_untouched
    FROM supplier
    """,
)
def s24_txnlog_shallow_clone(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os as _os

    from ..operators.txnlog import TxnLogTable

    sup = load_table(spark, sf_dir, "supplier")
    root = tempfile.mkdtemp(prefix="rqe-txn-clone-")
    src = TxnLogTable(spark, f"{root}/src", sup.schema, ["s_suppkey"])
    src.init(sup.repartition(4, "s_name"))
    src_before = {
        f
        for d_, _, fs in _os.walk(f"{root}/src")
        for f in fs
    }

    clone = src.clone_to(f"{root}/clone")
    zero_copy = not any(
        f.endswith(".parquet")
        for d_, _, fs in _os.walk(f"{root}/clone")
        for f in fs
    )
    assert zero_copy, "clone copied data files"

    # the experiment runs on the clone only
    clone.update(
        F.col("s_suppkey") <= 3,
        {"s_acctbal": F.lit(0.0).cast(sup.schema["s_acctbal"].dataType)},
    )
    src_after = {
        f
        for d_, _, fs in _os.walk(f"{root}/src")
        for f in fs
    }
    untouched = src_before == src_after
    assert untouched, "clone write touched the source"
    return clone.read().select(
        "s_suppkey",
        "s_name",
        "s_acctbal",
        F.lit(zero_copy).alias("clone_was_zero_copy"),
        F.lit(untouched).alias("source_untouched"),
    )


# --------------------------------------------------------------------------
# S25: declared PARTITION-COLUMN layout for the txnlog format — the
# reference's fact-table case (sql/schema.sql:1-10 keys stocks by
# (symbol, timestamp); src/routes/stocks.js:42-47 probes ONE symbol).
# partition_by writes hive-style one-value-per-file directories and
# records Delta-style partitionValues in each add-action, so a
# single-partition probe prunes EXACTLY (no min/max overlap slop) from
# log metadata alone — no directory listing at plan time — and
# composes with the per-file key stats inside the partition. The
# in-plan asserts pin the pruning facts (exactness + strictly fewer
# files + keyed-write containment); the hashed result is the pruned
# scan's contents, replayed by the oracle in SQL.
# --------------------------------------------------------------------------
@query(
    "s25_txnlog_partition_prune",
    survey="beyond:txnlog,beyond:partition-layout,S2",
    priority=60,
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           TRUE AS partition_prune_exact, TRUE AS pruned_fewer_files,
           TRUE AS keyed_write_stays_in_partition
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    """,
)
def s25_txnlog_partition_prune(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.txnlog import TxnLogTable

    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="rqe-txn-part-")
    # the partition column is part of the COMPOSITE key (the
    # reference's stocks shape: keyed (symbol, timestamp), partitioned
    # by symbol) — which is what makes partition-first pruning of
    # KEYED WRITES sound: a key's partition value can never change, so
    # the old row is always inside the pruned set (round-7 rule,
    # TxnLogTable._stable_partition_cols)
    t = TxnLogTable(
        spark,
        f"{root}/orders",
        src.schema,
        ["o_orderkey", "o_orderpriority"],
        partition_by=["o_orderpriority"],
    )
    # hash-mixed tasks: every task holds every priority, so WITHOUT
    # the partition layout each output file would span all priorities
    # and a priority probe could prune nothing
    t.init(src.repartition(4))
    live = t._live()
    cands = t.scan_candidates("o_orderpriority", "1-URGENT", "1-URGENT")
    exact = bool(cands) and all(
        live[p]["part"]["o_orderpriority"] == "1-URGENT" for p in cands
    )
    assert exact, "partition prune admitted a foreign-partition file"
    fewer = len(cands) < len(live)
    assert fewer, f"no pruning: {len(cands)}/{len(live)} files"
    # keyed writes compose: an upsert of ONE urgent order's row stays
    # inside the partition's candidate set (then key stats/bloom
    # narrow further within it)
    probe = src.filter(F.col("o_orderpriority") == "1-URGENT").limit(1)
    probe = probe.select("o_orderkey", "o_orderpriority")
    aff = t._affected(probe)
    contained = bool(aff) and set(aff) <= set(cands)
    assert contained, "keyed write escaped the partition"
    return t.read_where(
        "o_orderpriority", "1-URGENT", "1-URGENT"
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lit(exact).alias("partition_prune_exact"),
        F.lit(fewer).alias("pruned_fewer_files"),
        F.lit(contained).alias("keyed_write_stays_in_partition"),
    )


# --------------------------------------------------------------------------
# S26: change-data feed (Delta's table_changes / CDF). The net
# row-level diff between two snapshots is computed by LOG REPLAY over
# the files each commit actually churned — never a full snapshot scan
# (operators/txnlog.py:_changes_inputs) — so CDC cost tracks commit
# size, not table size, the property that makes downstream incremental
# consumers viable at 100 TB. The scenario runs update → insert →
# delete and hashes the full typed change set (pre/post images,
# copy-along rows correctly absent); the oracle derives the same net
# diff in SQL.
# --------------------------------------------------------------------------
@query(
    "s26_txnlog_cdf",
    survey="beyond:txnlog,beyond:cdf,S6",
    priority=60,
    oracle="""
    WITH off AS (SELECT MAX(c_custkey) AS o FROM customer),
    ins AS (
        SELECT c_custkey + o AS c_custkey, c_name, c_nationkey,
               CAST(1.5 AS DOUBLE) AS c_acctbal,
               'NEW' AS c_mktsegment
        FROM customer, off WHERE c_custkey % 101 = 5
    )
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           'delete' AS change_type
    FROM customer WHERE c_custkey % 89 = 3
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           'insert'
    FROM ins WHERE c_custkey % 89 <> 3
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           'update_preimage'
    FROM customer WHERE c_custkey % 97 = 0 AND c_custkey % 89 <> 3
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, CAST(0.0 AS DOUBLE), 'GOLD',
           'update_postimage'
    FROM customer WHERE c_custkey % 97 = 0 AND c_custkey % 89 <> 3
    """,
)
def s26_txnlog_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.txnlog import TxnLogTable

    src = load_table(spark, sf_dir, "customer")
    root = tempfile.mkdtemp(prefix="rqe-txn-cdf-")
    t = TxnLogTable(spark, f"{root}/customer", src.schema, ["c_custkey"])
    t.init(src)  # v0
    t.update(
        F.col("c_custkey") % 97 == 0,
        {
            "c_acctbal": F.lit(0.0).cast("double"),
            "c_mktsegment": F.lit("GOLD"),
        },
    )  # v1
    off = src.agg(F.max("c_custkey")).first()[0]
    t.append(
        src.filter(F.col("c_custkey") % 101 == 5).select(
            (F.col("c_custkey") + F.lit(off)).alias("c_custkey"),
            "c_name",
            "c_nationkey",
            F.lit(1.5).cast("double").alias("c_acctbal"),
            F.lit("NEW").alias("c_mktsegment"),
        )
    )  # v2
    t.delete(F.col("c_custkey") % 89 == 3)  # v3
    return t.table_changes(0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.col("_change_type").alias("change_type"),
    )


# --------------------------------------------------------------------------
# S27: TIMESTAMP AS OF time travel. Wall clocks are not reproducible,
# so the scenario resolves AGAINST ITS OWN recorded commit stamps
# (midpoint between v0 and v1 must resolve to v0; after v1 must
# resolve to v1) and hashes the resolved snapshots plus the
# resolution booleans — the oracle replays both eras in SQL. Pinned
# in-plan: a pre-creation timestamp raises.
# --------------------------------------------------------------------------
@query(
    "s27_txnlog_timestamp_travel",
    survey="beyond:txnlog,beyond:time-travel,S2",
    priority=60,
    oracle="""
    SELECT n_nationkey, n_name,
           'v0' AS era, TRUE AS resolved_correctly
    FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, 'v1', TRUE
    FROM nation WHERE n_nationkey % 2 = 0
    """,
)
def s27_txnlog_timestamp_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.txnlog import TxnLogTable

    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    root = tempfile.mkdtemp(prefix="rqe-txn-ts-")
    t = TxnLogTable(spark, f"{root}/nation", nat.schema, ["n_nationkey"])
    t.init(nat)  # v0
    t.delete(F.col("n_nationkey") % 2 == 1)  # v1
    ts = {h["version"]: h["ts"] for h in t.history()}
    mid = (ts[0] + ts[1]) / 2
    ok = (
        t.version_at(mid) == 0
        and t.version_at(ts[1] + 3600) == 1
    )
    assert ok, "timestamp resolution picked the wrong version"
    try:
        t.version_at(ts[0] - 3600)
        pre_creation_raises = False
    except ValueError:
        pre_creation_raises = True
    assert pre_creation_raises
    flag = F.lit(ok & pre_creation_raises).alias("resolved_correctly")
    return t.read_asof(mid).select(
        "n_nationkey", "n_name", F.lit("v0").alias("era"), flag
    ).unionByName(
        t.read_asof(ts[1] + 3600).select(
            "n_nationkey", "n_name", F.lit("v1").alias("era"), flag
        )
    )


# --------------------------------------------------------------------------
# S28: retention vacuum running on the OBJECT-STORE commit backend —
# the registry-level proof that the whole write/commit/vacuum protocol
# runs unchanged on conditional-PUT semantics (the 100 TB deployment
# target), not just in unit tests. The scenario ages v0 artificially,
# dry-runs (nothing deleted, time travel intact), then vacuums with a
# retention window; the hashed result is the surviving snapshot plus
# the audit facts.
# --------------------------------------------------------------------------
@query(
    "s28_txnlog_vacuum_retention",
    survey="beyond:txnlog,beyond:retention,S7",
    priority=60,
    oracle="""
    SELECT s_suppkey, s_name,
           TRUE AS dry_run_deleted_nothing,
           TRUE AS window_kept_recent,
           TRUE AS old_era_gone
    FROM supplier WHERE s_suppkey % 3 <> 0
    """,
)
def s28_txnlog_vacuum_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import json as _json

    from ..operators.txnlog import ObjectStoreCommitBackend, TxnLogTable

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    root = tempfile.mkdtemp(prefix="rqe-txn-vac-")
    t = TxnLogTable(
        spark,
        f"{root}/supplier",
        sup.schema,
        ["s_suppkey"],
        commit_backend=ObjectStoreCommitBackend(),
    )
    t.init(sup)  # v0
    t.delete(F.col("s_suppkey") % 3 == 0)  # v1 (recent)
    # age v0 two days into the past so the 24h window excludes it
    with open(t._log_path(0), encoding="utf-8") as f:
        e0 = _json.load(f)
    e0["ts"] -= 48 * 3600
    with open(t._log_path(0), "w", encoding="utf-8") as f:
        _json.dump(e0, f)

    doomed = t.vacuum(keep_last=1, retain_hours=24, dry_run=True)
    dry_ok = bool(doomed) and t.read(0).count() == sup.count()
    assert dry_ok, "dry run must report candidates and delete nothing"
    removed = t.vacuum(keep_last=1, retain_hours=24)
    kept_ok = removed == doomed and t.read(1).count() > 0
    assert kept_ok
    try:
        t.read(0).count()
        old_gone = False
    except Exception:
        old_gone = True
    assert old_gone, "vacuumed era must fail loudly at read"
    return t.read().select(
        "s_suppkey",
        "s_name",
        F.lit(dry_ok).alias("dry_run_deleted_nothing"),
        F.lit(kept_ok).alias("window_kept_recent"),
        F.lit(old_gone).alias("old_era_gone"),
    )


@query(
    "s30_txnlog_monotonic_time_travel",
    survey="beyond:txnlog,beyond:time-travel",
    priority=60,
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           CAST(0 AS BIGINT) AS resolved_version,
           TRUE AS skew_hidden
    FROM customer WHERE c_custkey <= 20
    """,
)
def s30_txnlog_monotonic_time_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TIMESTAMP AS OF under writer clock skew: commit wall clocks are
    raw writer clocks, so with multiple writers version 2 can carry an
    EARLIER timestamp than version 1 even though the CAS serialized
    them. Resolution runs over the monotonically adjusted sequence
    (``_effective_ts``: each effective ts >= predecessor + 1ms,
    Delta's replay adjustment), so asking for a time between v0 and v1
    returns v0 — a raw scan would return the skewed v2, exposing
    effects of a commit whose wall clock is AFTER the asked time. The
    scenario plants the skew by rewriting the committed ts fields,
    asserts the resolved version in-plan, and hashes v0's content."""
    import json as _json

    from ..operators.txnlog import TxnLogTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    root = tempfile.mkdtemp(prefix="rqe-s30-")
    t = TxnLogTable(spark, f"{root}/c", cust.schema, ["c_custkey"])
    t.init(cust.filter(F.col("c_custkey") <= 20))  # v0
    t.append(
        cust.filter(F.col("c_custkey").between(21, 40))
    )  # v1: a fast-clock writer
    t.append(
        cust.filter(F.col("c_custkey").between(41, 60))
    )  # v2: a slow-clock writer — wall clock BEHIND v1's
    for v, ts in ((0, 1.0e9), (1, 1.0e9 + 100.0), (2, 1.0e9 + 50.0)):
        p = t._log_path(v)
        with open(p, encoding="utf-8") as f:
            e = _json.load(f)
        e["ts"] = ts
        with open(p, "w", encoding="utf-8") as f:
            _json.dump(e, f)
    asked = 1.0e9 + 75.0
    v = t.version_at(asked)
    assert v == 0, f"skewed clock resolved to v{v}, not v0"
    return t.read_asof(asked).select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.lit(v).cast("long").alias("resolved_version"),
        F.lit(True).alias("skew_hidden"),
    )


# --------------------------------------------------------------------------
# S31: COLUMN MAPPING (Delta columnMapping 'name' mode,
# operators/txnlog.py rename_column/drop_column): logical renames and
# drops are METADATA-ONLY commits over immutable physical parquet
# names — on a 100 TB table, ALTER TABLE RENAME/DROP COLUMN costs KB
# of JSON instead of a full rewrite. The scenario renames o_comment to
# note (asserting zero file churn), keeps writing through the new
# name (old and new files stay mutually readable), drops
# o_shippriority and re-adds it (the retired physical name means the
# old era's values can NEVER resurrect — asserted in-plan), upserts
# through the mapped schema, and checks time travel still shows the
# pre-rename era's names. Using the feature bumps the table protocol
# to 2/2 (asserted), so a pre-mapping reader fails loudly instead of
# misreading. The hash pins the full final table.
# --------------------------------------------------------------------------
@query(
    "s31_txnlog_column_mapping",
    survey="beyond:txnlog,beyond:column-mapping,S5",
    priority=60,
    oracle="""
    SELECT o_orderkey,
           o_totalprice,
           CASE WHEN o_orderkey % 5 = 0 THEN 'RESTATED'
                ELSE o_orderpriority END AS priority,
           CAST(NULL AS VARCHAR) AS o_orderstatus,
           TRUE AS rename_was_metadata_only,
           TRUE AS dropped_column_stayed_dead,
           TRUE AS old_era_kept_old_names
    FROM orders WHERE o_orderkey % 17 = 0
    """,
)
def s31_txnlog_column_mapping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.txnlog import TxnLogTable

    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 17 == 0)
        .select(
            "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus"
        )
    )
    root = tempfile.mkdtemp(prefix="rqe-s31-")
    t = TxnLogTable(spark, f"{root}/orders", src.schema, ["o_orderkey"])
    t.init(src.filter(F.col("o_orderkey") % 2 == 0))
    v0 = t.current_version()
    files0 = set(t._split_live()[0])

    t.rename_column("o_orderpriority", "priority")  # metadata-only
    meta_only = set(t._split_live()[0]) == files0
    assert meta_only, "rename must not touch data files"
    assert t._cmap_at(None)["protocol"] == {
        "min_reader": 2,
        "min_writer": 2,
    }, "feature use must bump the table protocol"

    # writes keep flowing through the NEW logical name; the files they
    # stage carry the immutable physical name, so both eras read as one
    t.append(
        src.filter(F.col("o_orderkey") % 2 == 1).withColumnRenamed(
            "o_orderpriority", "priority"
        )
    )

    # drop + re-add: the retired physical name forces a FRESH one, so
    # every row — old era and new — reads NULL, never the dropped bytes
    t.drop_column("o_orderstatus")
    t.add_columns({"o_orderstatus": "string"})
    stayed_dead = (
        t.read().filter(F.col("o_orderstatus").isNotNull()).count() == 0
    )
    assert stayed_dead, "dropped column's old values resurrected"

    # keyed upsert through the mapped schema
    restated = t.read().filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "o_totalprice",
        F.lit("RESTATED").alias("priority"),
        F.lit(None).cast("string").alias("o_orderstatus"),
    )
    t.upsert(restated)

    # time travel to the pre-rename era resolves that era's names
    old = t.read(v0)
    old_names_ok = (
        "o_orderpriority" in old.columns and "priority" not in old.columns
    )
    assert old_names_ok, "pre-rename era must show pre-rename names"

    return t.read().select(
        "o_orderkey",
        "o_totalprice",
        "priority",
        "o_orderstatus",
        F.lit(meta_only).alias("rename_was_metadata_only"),
        F.lit(stayed_dead).alias("dropped_column_stayed_dead"),
        F.lit(old_names_ok).alias("old_era_kept_old_names"),
    )


# --------------------------------------------------------------------------
# S32: SELECTIVE small-file compaction (Delta OPTIMIZE's minFileSize
# selection, operators/txnlog.py compact_small): bin-pack ONLY the
# files below the size threshold and leave every well-sized file
# untouched BY IDENTITY — the routine-maintenance shape that costs
# O(small files) instead of O(table) at 100 TB (full compact() reads
# everything). The scenario drips 8 micro-batch-sized appends onto one
# big initial file (the txnlog streaming sink's steady state), defers
# a delete whose vector masks the BIG file, compacts, and asserts:
# the big file survived by identity, the drip got packed, and the
# deletion vector still masks rows in the file the compact never read.
# --------------------------------------------------------------------------
@query(
    "s32_txnlog_compact_small",
    survey="beyond:txnlog,beyond:compaction,S5",
    priority=60,
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           TRUE AS big_file_untouched,
           TRUE AS drip_files_packed,
           TRUE AS dv_still_masks
    FROM customer WHERE c_custkey % 97 <> 0
    """,
)
def s32_txnlog_compact_small(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.txnlog import TxnLogTable

    src = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    n = src.count()
    half = n // 2
    root = tempfile.mkdtemp(prefix="rqe-s32-")
    t = TxnLogTable(spark, f"{root}/c", src.schema, ["c_custkey"])
    t.init(src.filter(F.col("c_custkey") <= half).repartition(1))
    n_big = t.read().count()
    for j in range(8):  # the streaming-sink drip: one small file each
        t.append(
            src.filter(
                (F.col("c_custkey") > half)
                & (F.col("c_custkey") % 8 == j)
            ).repartition(1)
        )
    # deferred delete across BOTH eras: its vector masks the big file
    t.delete_keys_deferred(
        src.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    )
    before = t._split_live()[0]
    big_rel = [p for p, m in before.items() if m["rows"] == n_big]
    assert len(big_rel) == 1
    t.compact_small(max_rows=n_big)
    after, dvs = t._split_live()
    big_ok = big_rel[0] in after
    assert big_ok, "compact_small rewrote a well-sized file"
    packed_ok = len(after) < len(before)
    assert packed_ok, "small files were not packed"
    dv_ok = bool(dvs)
    assert dv_ok, "deletion vector must survive compact_small"
    return t.read().select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.lit(big_ok).alias("big_file_untouched"),
        F.lit(packed_ok).alias("drip_files_packed"),
        F.lit(dv_ok).alias("dv_still_masks"),
    )


# --------------------------------------------------------------------------
# S33: GENERATED columns (Delta's GENERATED ALWAYS AS,
# operators/txnlog.py _gencols_at/_conform) composed with the
# partition layout — the canonical lakehouse shape: a table
# partitioned by a generated `CAST(ts AS DATE)` column that NO writer
# ever supplies. Writers append raw events; the date materializes at
# write, wrong explicit values are rejected row-by-row in the same
# stats aggregate as CHECK constraints (asserted), and date probes
# prune at directory granularity with zero writer discipline
# (asserted). The scenario also moves one row ACROSS partitions via
# an upsert that changes its timestamp — exercising the round-7
# soundness rule that mutation pruning uses only key-STABLE partition
# columns, so the old partition's copy is rewritten away instead of
# surviving as a duplicate key (asserted single-copy).
# --------------------------------------------------------------------------
@query(
    "s33_txnlog_generated_partition",
    survey="beyond:txnlog,beyond:generated-columns,beyond:partition-layout",
    priority=60,
    oracle="""
    WITH moved AS (SELECT MIN(event_id) AS mid FROM events),
    base AS (
        SELECT event_id,
               CASE WHEN event_id = (SELECT mid FROM moved)
                    THEN ts + INTERVAL 30 DAY ELSE ts END AS ts,
               value
        FROM events
    )
    SELECT event_id, ts, value,
           CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
           TRUE AS generated_on_write,
           TRUE AS wrong_explicit_rejected,
           TRUE AS date_probe_pruned,
           TRUE AS moved_row_single_copy
    FROM base
    WHERE CAST(ts AS DATE)
          <= (SELECT MIN(CAST(ts AS DATE)) FROM events) + 2
    """,
)
def s33_txnlog_generated_partition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import datetime as _dt

    from ..operators.txnlog import ConstraintViolation, TxnLogTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "value"
    )
    sch = ev.withColumn("event_date", F.col("ts").cast("date")).schema
    root = tempfile.mkdtemp(prefix="rqe-s33-")
    t = TxnLogTable(
        spark,
        f"{root}/ev",
        sch,
        ["event_id"],
        partition_by=["event_date"],
        generated={"event_date": "CAST(ts AS DATE)"},
    )
    t.init(ev)  # no event_date in the frame: generated at write
    gen_ok = t.read().filter(F.col("event_date").isNull()).count() == 0
    assert gen_ok, "generated column missing after init"

    # explicit wrong value: rejected like a CHECK violation
    probe = ev.orderBy("event_id").limit(1).first()
    try:
        t.append(
            local_frame(
                spark,
                [
                    (
                        int(probe["event_id"]) + 10_000_000,
                        probe["ts"],
                        1.0,
                        _dt.date(1999, 9, 9),
                    )
                ],
                sch,
            )
        )
        rejected = False
    except ConstraintViolation:
        rejected = True
    assert rejected, "contradicting generated value accepted"

    # date probes prune at directory granularity
    d0 = t.read().agg(F.min("event_date")).first()[0]
    d2 = d0 + _dt.timedelta(days=2)
    files = t._split_live()[0]
    cands = t.scan_candidates("event_date", d0, d2)
    pruned = 0 < len(cands) < len(files)
    assert pruned, f"no date pruning: {len(cands)}/{len(files)}"

    # move one row across partitions (ts += 30 days, date regenerates):
    # the OLD partition's copy must be rewritten away, not duplicated
    mid = int(probe["event_id"])
    t.upsert(
        local_frame(
            spark,
            [
                (
                    mid,
                    probe["ts"] + _dt.timedelta(days=30),
                    float(probe["value"]),
                )
            ],
            schema="event_id long, ts timestamp, value double",
        )
    )
    single = t.read().filter(F.col("event_id") == mid).count() == 1
    assert single, "partition move duplicated the key"

    # the date emits as an ISO string: a DATE column next to a
    # TIMESTAMP column is exactly the shape canonicalizers format
    # inconsistently (pandas renders datetime64 block-wise), so the
    # hashed value must not depend on it — the HLL round-6 lesson
    return t.read_where("event_date", d0, d2).select(
        "event_id",
        "ts",
        "value",
        F.col("event_date").cast("string").alias("event_date"),
        F.lit(gen_ok).alias("generated_on_write"),
        F.lit(rejected).alias("wrong_explicit_rejected"),
        F.lit(pruned).alias("date_probe_pruned"),
        F.lit(single).alias("moved_row_single_copy"),
    )


# --------------------------------------------------------------------------
# CDF-DRIVEN incremental materialized view: the consumption side of
# the change-data feed (s26 proved the feed itself; this proves it
# POWERS incremental compute — the reason CDF exists at 100 TB). A
# per-type rollup is materialized at v0, then the base table takes an
# append + an upsert + a delete; instead of recomputing over the
# table, the MV is refreshed from table_changes(v0 → head) alone:
# +post-image for inserts/update-postimages, -pre-image for deletes/
# update-preimages, merged into the stale MV by group. Refresh cost
# tracks the CHANGED rows (log-replayed churned files), not table
# size. All sums run in DECIMAL(27,6) — exact and associative — so
# the incremental result is asserted EQUAL (not approximately) to the
# full recompute before emission; the hash pins the refreshed MV.
# --------------------------------------------------------------------------
@query(
    "mv_txnlog_cdf_refresh",
    survey="beyond:txnlog,beyond:cdf,beyond:incremental-mv",
    priority=60,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(
               CASE WHEN event_id % 7 = 0 THEN value + 10.0
                    ELSE value END AS DECIMAL(27,6))), 4) AS DOUBLE)
               AS total_value,
           TRUE AS incremental_equals_full
    FROM events
    WHERE event_id % 13 <> 0
    GROUP BY event_type
    """,
)
def mv_txnlog_cdf_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.txnlog import TxnLogTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    root = tempfile.mkdtemp(prefix="rqe-mv-cdf-")
    t = TxnLogTable(spark, f"{root}/ev", ev.schema, ["event_id"])
    t.init(ev.filter(F.col("event_id") % 2 == 0))
    v0 = t.current_version()

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("total"),
        )

    mv0 = rollup(t.read(v0))  # the materialized state at v0

    # the base table moves on: append, upsert (+10 on %7), delete %13
    t.append(ev.filter(F.col("event_id") % 2 == 1))
    bumped = (
        t.read()
        .filter(F.col("event_id") % 7 == 0)
        .withColumn("value", F.col("value") + F.lit(10.0))
    )
    t.upsert(bumped)
    t.delete_keys(
        ev.filter(F.col("event_id") % 13 == 0).select("event_id")
    )

    # refresh from the CHANGE FEED alone: signed contributions per group
    ch = t.table_changes(v0)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), 1
    ).otherwise(-1)
    delta = ch.groupBy("event_type").agg(
        F.sum(sign).alias("dn"),
        F.sum(
            F.col("value").cast("decimal(27,6)") * sign
        ).alias("dtotal"),
    )
    merged = (
        mv0.join(delta, "event_type", "full_outer")
        .select(
            "event_type",
            (
                F.coalesce(F.col("n"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            ).alias("n"),
            (
                F.coalesce(F.col("total"), F.lit(0).cast("decimal(27,6)"))
                + F.coalesce(
                    F.col("dtotal"), F.lit(0).cast("decimal(27,6)")
                )
            ).alias("total"),
        )
        .filter(F.col("n") > 0)
    )

    # exact-equality gate: decimal sums are associative, so the
    # incremental MV must match the full recompute to the last digit
    full = {
        r["event_type"]: (r["n"], r["total"])
        for r in rollup(t.read()).collect()
    }
    inc = {
        r["event_type"]: (r["n"], r["total"])
        for r in merged.collect()
    }
    exact = inc == full
    assert exact, f"incremental refresh diverged: {inc} vs {full}"

    return merged.select(
        "event_type",
        "n",
        F.round(F.col("total"), 4).cast("double").alias("total_value"),
        F.lit(exact).alias("incremental_equals_full"),
    )


# --------------------------------------------------------------------------
# S34: FSCK repair (Delta's FSCK REPAIR TABLE,
# operators/txnlog.py repair): storage loses files — a manual delete,
# a partial bucket restore, a botched lifecycle rule — and every scan
# then fails on the missing path. The repair drops exactly the
# missing entries in ONE metadata commit (audited first by the
# dry run, which must commit nothing), restoring readability for the
# surviving data while history records what was dropped. The lost
# files here are one partition directory's, so the surviving content
# is exactly SQL-expressible and the hash pins it.
# --------------------------------------------------------------------------
@query(
    "s34_txnlog_fsck",
    survey="beyond:txnlog,beyond:fsck,S7",
    priority=60,
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment,
           TRUE AS read_failed_before_repair,
           TRUE AS dry_run_committed_nothing,
           TRUE AS repair_dropped_exactly_missing
    FROM customer WHERE c_mktsegment <> 'BUILDING'
    """,
)
def s34_txnlog_fsck(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from ..operators.txnlog import TxnLogTable

    src = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    root = tempfile.mkdtemp(prefix="rqe-s34-")
    t = TxnLogTable(
        spark,
        f"{root}/c",
        src.schema,
        ["c_custkey"],
        partition_by=["c_mktsegment"],
    )
    t.init(src)
    doomed = t.scan_candidates("c_mktsegment", "BUILDING", "BUILDING")
    assert doomed, "expected files in the BUILDING partition"
    for p in doomed:
        _os.remove(_os.path.join(t.path, p))
    try:
        t.read().count()
        failed_before = False
    except Exception:
        failed_before = True
    assert failed_before, "missing files must fail loudly"
    audit = t.repair(dry_run=True)
    dry_noop = sorted(audit) == sorted(doomed)
    try:
        t.read().count()
        dry_noop = False  # dry run must not have fixed anything
    except Exception:
        pass
    assert dry_noop, "dry run must audit without committing"
    removed = t.repair()
    exact = sorted(removed) == sorted(doomed)
    assert exact, "repair dropped a different set than the audit"
    return t.read().select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.lit(failed_before).alias("read_failed_before_repair"),
        F.lit(dry_noop).alias("dry_run_committed_nothing"),
        F.lit(exact).alias("repair_dropped_exactly_missing"),
    )


# --------------------------------------------------------------------------
# S35: orphan-file GC (operators/txnlog.py gc_orphans) — the disk→log
# mirror of S34's fsck: a writer that crashed between staging and
# commit leaves parquet debris no log version references (the
# loser-cleanup path never ran). The GC deletes exactly that debris:
# referenced files — live AND historical — survive, a fresh orphan
# inside the grace window survives (it may be an in-flight writer's),
# and the table's content, history, and time travel are untouched.
# The planted debris and the grace probe make every clause assertable;
# the hash pins the (unchanged) table.
# --------------------------------------------------------------------------
@query(
    "s35_txnlog_gc_orphans",
    survey="beyond:txnlog,beyond:gc,S7",
    priority=60,
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey,
           TRUE AS removed_only_debris,
           TRUE AS grace_protected_inflight,
           TRUE AS history_intact
    FROM supplier
    """,
)
def s35_txnlog_gc_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import time as _time

    from ..operators.txnlog import TxnLogTable

    src = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    root = tempfile.mkdtemp(prefix="rqe-s35-")
    t = TxnLogTable(spark, f"{root}/s", src.schema, ["s_suppkey"])
    t.init(src)
    t.upsert(src.limit(5))  # makes v0 historical (still referenced)
    # plant an AGED orphan (crashed writer) and a FRESH one (in-flight)
    aged_dir = _os.path.join(t.path, "data", "orphan000000")
    _os.makedirs(aged_dir)
    aged = _os.path.join(aged_dir, "part-0.parquet")
    with open(aged, "wb") as f:
        f.write(b"crashed writer debris")
    stale = _time.time() - 7200
    _os.utime(aged, (stale, stale))
    fresh_dir = _os.path.join(t.path, "data", "orphan111111")
    _os.makedirs(fresh_dir)
    fresh = _os.path.join(fresh_dir, "part-0.parquet")
    with open(fresh, "wb") as f:
        f.write(b"in-flight writer")

    removed = t.gc_orphans(grace_seconds=3600)
    only_debris = removed == ["data/orphan000000/part-0.parquet"]
    assert only_debris, f"gc removed the wrong set: {removed}"
    grace_ok = _os.path.exists(fresh)
    assert grace_ok, "grace window failed to protect a fresh file"
    history_ok = (
        t.read(0).count() == src.count()
        and t.read().count() == src.count()
    )
    assert history_ok, "gc disturbed table content or history"
    return t.read().select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        F.lit(only_debris).alias("removed_only_debris"),
        F.lit(grace_ok).alias("grace_protected_inflight"),
        F.lit(history_ok).alias("history_intact"),
    )


# --------------------------------------------------------------------------
# S36: replaceWhere (operators/txnlog.py replace_where) — Delta's
# df.write.option("replaceWhere", pred): atomically replace exactly
# the predicate's region in ONE copy-on-write commit. The canonical
# 100 TB use is the idempotent partition reload (re-land one day/one
# priority class of a fact table) without a table lock. The scenario
# proves the three contracts: untouched partitions survive by FILE
# IDENTITY (zero rewrite outside the region), the pre-replace region
# stays time-travelable, and both validations — an incoming row that
# violates the predicate, an incoming key colliding with a surviving
# row outside the region — raise BEFORE anything lands. The hash pins
# the resulting table.
# --------------------------------------------------------------------------
@query(
    "s36_txnlog_replace_where",
    survey="beyond:txnlog,beyond:replace-where,S5,S7",
    priority=60,
    oracle="""
    WITH src AS (
        SELECT o_orderkey, o_orderpriority AS priority, o_totalprice
        FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT o_orderkey, priority, o_totalprice,
           TRUE AS untouched_files_survived,
           TRUE AS old_region_time_travels,
           TRUE AS validations_raise
    FROM (
        SELECT o_orderkey, priority, o_totalprice FROM src
        WHERE priority <> '1-URGENT'
        UNION ALL
        SELECT o_orderkey + 100000000, priority, o_totalprice FROM src
        WHERE priority = '1-URGENT'
    )
    """,
)
def s36_txnlog_replace_where(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.txnlog import TxnLogTable

    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 13 == 0)
        .select(
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            "o_totalprice",
        )
    )
    root = tempfile.mkdtemp(prefix="rqe-s36-")
    t = TxnLogTable(
        spark,
        f"{root}/orders",
        src.schema,
        ["o_orderkey"],
        partition_by=["priority"],
    )
    t.init(src)
    v0 = t.current_version()
    n_urgent = src.filter(F.col("priority") == "1-URGENT").count()
    outside_before = {
        p for p in t._split_live()[0] if "p_priority=1-URGENT" not in p
    }

    relanded = src.filter(F.col("priority") == "1-URGENT").select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "priority",
        "o_totalprice",
    )
    t.replace_where(relanded, F.col("priority") == "1-URGENT")

    untouched = outside_before <= set(t._split_live()[0])
    assert untouched, "replace_where rewrote files outside the region"
    time_travels = (
        t.read(v0).filter(F.col("priority") == "1-URGENT").count()
        == n_urgent
    )
    assert time_travels, "pre-replace region lost to time travel"

    raised = 0
    try:  # incoming row violating the predicate
        t.replace_where(
            src.filter(F.col("priority") == "2-HIGH").limit(1),
            F.col("priority") == "1-URGENT",
        )
    except ValueError:
        raised += 1
    try:  # incoming key colliding with a surviving outside-region row
        t.replace_where(
            src.filter(F.col("priority") == "2-HIGH")
            .limit(1)
            .withColumn("priority", F.lit("1-URGENT")),
            F.col("priority") == "1-URGENT",
        )
    except ValueError:
        raised += 1
    assert raised == 2, "replace_where validations did not raise"

    return t.read().select(
        "o_orderkey",
        "priority",
        "o_totalprice",
        F.lit(untouched).alias("untouched_files_survived"),
        F.lit(time_travels).alias("old_region_time_travels"),
        F.lit(raised == 2).alias("validations_raise"),
    )


# --------------------------------------------------------------------------
# S37: schema-evolving append (operators/txnlog.py append
# merge_schema=True) — Delta's mergeSchema write option: a frame
# carrying columns the table lacks widens the schema and lands the
# data in the SAME commit, so a crash can never leave data the
# declared schema can't describe. The scenario proves: single-commit
# atomicity (version advances by exactly one), old files read the new
# column as NULL, and an evolve-after-drop of the SAME logical name
# gets a fresh physical name — the dropped era's bytes never
# resurrect through the mergeSchema path (same retirement rule the
# add_columns path enforces). The hash pins the resulting table.
# --------------------------------------------------------------------------
@query(
    "s37_txnlog_merge_schema",
    survey="beyond:txnlog,beyond:schema-evolution,S3,S5",
    priority=60,
    oracle="""
    WITH src AS (
        SELECT c_custkey, c_name, c_acctbal FROM customer
        WHERE c_custkey % 7 = 0
    )
    SELECT c_custkey, c_name, c_acctbal,
           CASE WHEN c_custkey % 3 = 2 THEN c_custkey % 50
                ELSE NULL END AS loyalty,
           TRUE AS single_commit_evolution,
           TRUE AS dropped_bytes_stayed_dead
    FROM src
    """,
)
def s37_txnlog_merge_schema(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.txnlog import TxnLogTable

    src = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 == 0)
        .select("c_custkey", "c_name", "c_acctbal")
    )
    root = tempfile.mkdtemp(prefix="rqe-s37-")
    t = TxnLogTable(spark, f"{root}/cust", src.schema, ["c_custkey"])
    t.init(src.filter(F.col("c_custkey") % 3 == 0))

    v0 = t.current_version()
    t.append(
        src.filter(F.col("c_custkey") % 3 == 1).withColumn(
            "loyalty", (F.col("c_custkey") % 100).cast("long")
        ),
        merge_schema=True,
    )
    single_commit = t.current_version() == v0 + 1
    assert single_commit, "mergeSchema must widen and land in one commit"

    # drop the evolved column, then evolve the SAME name back in: the
    # retired physical name forces a fresh one, so the first append's
    # values must NOT come back — only the final batch carries values
    t.drop_column("loyalty")
    t.append(
        src.filter(F.col("c_custkey") % 3 == 2).withColumn(
            "loyalty", (F.col("c_custkey") % 50).cast("long")
        ),
        merge_schema=True,
    )
    stayed_dead = (
        t.read()
        .filter(
            (F.col("c_custkey") % 3 == 1) & F.col("loyalty").isNotNull()
        )
        .count()
        == 0
    )
    assert stayed_dead, "dropped era's bytes resurrected via mergeSchema"

    return t.read().select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        "loyalty",
        F.lit(single_commit).alias("single_commit_evolution"),
        F.lit(stayed_dead).alias("dropped_bytes_stayed_dead"),
    )


# --------------------------------------------------------------------------
# S38: ROW TRACKING (Delta row tracking / Iceberg v3 row lineage,
# operators/txnlog.py enable_row_tracking/read_with_row_ids/
# compact_preserving_row_ids). Every row gets a stable id: fresh
# files' ids derive LAZILY from the immutable log (base = running
# row total in commit order, id = base + in-file position), so
# ordinary writes allocate nothing; a preserving compaction
# materializes `_row_id` physically into the rewritten files and
# flags its adds so the high-water mark — and every future fresh
# id — is unaffected. The scenario writes two sorted batches,
# merge-on-read-deletes every 7th key, compacts preserving ids,
# appends a third batch, and proves: survivor ids unchanged through
# the delete AND the compaction (layout-independent), fresh ids
# continue contiguously above the high-water mark, and no id is ever
# duplicated. The oracle reconstructs the exact expected id of every
# surviving row from the same deterministic batch order, so the hash
# pins the id ASSIGNMENT itself, not just the invariants.
# --------------------------------------------------------------------------
_S38_SHIFT = 10_000_000


@query(
    "s38_txnlog_row_tracking",
    survey="beyond:txnlog,beyond:row-tracking,S5",
    priority=60,
    oracle=f"""
    WITH h AS (
        SELECT CAST(MAX(s_suppkey) // 2 AS BIGINT) AS h FROM supplier
    ),
    b1 AS (
        SELECT s_suppkey,
               ROW_NUMBER() OVER (ORDER BY s_suppkey) - 1 AS row_id
        FROM supplier WHERE s_suppkey <= (SELECT h FROM h)
    ),
    b2 AS (
        SELECT s_suppkey,
               (SELECT COUNT(*) FROM b1)
               + ROW_NUMBER() OVER (ORDER BY s_suppkey) - 1 AS row_id
        FROM supplier WHERE s_suppkey > (SELECT h FROM h)
    ),
    b3 AS (
        SELECT s_suppkey + {_S38_SHIFT} AS s_suppkey,
               (SELECT COUNT(*) FROM supplier)
               + ROW_NUMBER() OVER (ORDER BY s_suppkey) - 1 AS row_id
        FROM supplier WHERE s_suppkey <= (SELECT h FROM h)
    ),
    unioned AS (
        SELECT * FROM b1 WHERE s_suppkey % 7 <> 0
        UNION ALL
        SELECT * FROM b2 WHERE s_suppkey % 7 <> 0
        UNION ALL
        SELECT * FROM b3
    )
    SELECT s_suppkey, row_id,
           TRUE AS ids_survive_mor_delete,
           TRUE AS ids_survive_compaction,
           TRUE AS fresh_ids_above_hwm,
           TRUE AS ids_unique
    FROM unioned
    """,
)
def s38_txnlog_row_tracking(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.txnlog import ROWID_COL, TxnLogTable

    src = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    h = src.agg(F.max("s_suppkey")).collect()[0][0] // 2
    root = tempfile.mkdtemp(prefix="rqe-s38-")
    t = TxnLogTable(spark, f"{root}/s", src.schema, ["s_suppkey"])
    t.enable_row_tracking()

    def sorted1(df: DataFrame) -> DataFrame:
        # single sorted file => in-file position == sorted-key rank,
        # making the lazy id assignment oracle-reproducible
        return df.repartition(1).sortWithinPartitions("s_suppkey")

    t.init(sorted1(src.filter(F.col("s_suppkey") <= h)))
    t.append(sorted1(src.filter(F.col("s_suppkey") > h)))
    before = {
        r.s_suppkey: r[ROWID_COL]
        for r in t.read_with_row_ids().collect()
    }

    # merge-on-read delete: files untouched, ids must survive
    t.delete_keys_deferred(
        src.filter(F.col("s_suppkey") % 7 == 0).select("s_suppkey")
    )
    after_del = {
        r.s_suppkey: r[ROWID_COL]
        for r in t.read_with_row_ids().collect()
    }
    del_ok = all(after_del[k] == before[k] for k in after_del)
    assert del_ok, "MOR delete changed survivor row ids"

    # preserving compaction: new physical layout, same ids
    _, hwm = t._row_id_bases()
    t.compact_preserving_row_ids(2)
    after_cp = {
        r.s_suppkey: r[ROWID_COL]
        for r in t.read_with_row_ids().collect()
    }
    cp_ok = after_cp == after_del
    assert cp_ok, "compaction changed row ids"

    # fresh rows continue contiguously above the high-water mark
    t.append(
        sorted1(
            src.filter(F.col("s_suppkey") <= h).select(
                (F.col("s_suppkey") + _S38_SHIFT).alias("s_suppkey"),
                "s_name",
                "s_acctbal",
            )
        )
    )
    final = {
        r.s_suppkey: r[ROWID_COL]
        for r in t.read_with_row_ids().collect()
    }
    fresh_ids = [v for k, v in final.items() if k >= _S38_SHIFT]
    fresh_ok = min(fresh_ids) == hwm and max(fresh_ids) == hwm + len(
        fresh_ids
    ) - 1
    assert fresh_ok, "fresh ids did not continue at the high-water mark"
    uniq_ok = len(set(final.values())) == len(final)
    assert uniq_ok, "duplicate row ids"

    return t.read_with_row_ids().select(
        "s_suppkey",
        F.col(ROWID_COL).alias("row_id"),
        F.lit(del_ok).alias("ids_survive_mor_delete"),
        F.lit(cp_ok).alias("ids_survive_compaction"),
        F.lit(fresh_ok).alias("fresh_ids_above_hwm"),
        F.lit(uniq_ok).alias("ids_unique"),
    )


# --------------------------------------------------------------------------
# S39: PARTITION SPEC EVOLUTION (Iceberg's spec-evolution mechanic,
# operators/txnlog.py set_partitioning). Changing how a table is
# partitioned is a METADATA-ONLY commit: old-era files keep their
# layout and stay fully valid (every file records its own
# partitionValues; pruning reads per-file metadata, so a file without
# a value for the new partition column simply falls back to its
# min/max stats), while new writes lay out under the new spec — the
# property Delta lacks (it rewrites the table to repartition). The
# scenario initializes UNPARTITIONED, evolves to partition by
# event_type, appends a second era, and proves: the evolve commit
# touched zero files, both eras read as one table, a partition probe
# prunes the new era to exactly the probed directory while old-era
# files are kept as candidates, and a keyed upsert spanning both eras
# leaves single copies.
# --------------------------------------------------------------------------
@query(
    "s39_txnlog_partition_evolution",
    survey="beyond:txnlog,beyond:partition-evolution,S5",
    priority=60,
    oracle="""
    SELECT event_id, event_type,
           CASE WHEN event_id % 10 = 0 THEN value + 1.0 ELSE value END
               AS value,
           TRUE AS evolve_was_metadata_only,
           TRUE AS eras_read_as_one_table,
           TRUE AS new_era_pruned_exactly,
           TRUE AS old_era_kept_as_candidates,
           TRUE AS cross_era_upsert_single_copy
    FROM events
    """,
)
def s39_txnlog_partition_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.txnlog import TxnLogTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    root = tempfile.mkdtemp(prefix="rqe-s39-")
    t = TxnLogTable(spark, f"{root}/e", ev.schema, ["event_id"])
    t.init(ev.filter(F.col("event_id") % 2 == 0).repartition(2))

    before = set(t._live())
    t.set_partitioning(["event_type"])
    meta_only = set(t._live()) == before
    assert meta_only, "spec evolution touched data files"

    t.append(ev.filter(F.col("event_id") % 2 == 1).repartition(1))
    one_table = t.read().count() == ev.count()
    assert one_table, "mixed-era read lost rows"

    data, _dvs = t._split_live()
    old = {p for p, m in data.items() if not m.get("part")}
    new = {p for p, m in data.items() if m.get("part")}
    cands = set(t.scan_candidates("event_type", "click", "click"))
    pruned_ok = (cands & new) and all(
        "p_event_type=click" in p for p in (cands & new)
    )
    assert pruned_ok, "new era did not prune to the probed partition"
    old_kept = old <= cands
    assert old_kept, "old-era file wrongly pruned on the new column"

    t.upsert(
        ev.filter(F.col("event_id") % 10 == 0).withColumn(
            "value", F.col("value") + F.lit(1.0)
        )
    )
    dup = (
        t.read()
        .groupBy("event_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    single = dup == 0 and t.read().count() == ev.count()
    assert single, "cross-era upsert corrupted the table"

    return t.read().select(
        "event_id",
        "event_type",
        "value",
        F.lit(meta_only).alias("evolve_was_metadata_only"),
        F.lit(one_table).alias("eras_read_as_one_table"),
        F.lit(bool(pruned_ok)).alias("new_era_pruned_exactly"),
        F.lit(old_kept).alias("old_era_kept_as_candidates"),
        F.lit(single).alias("cross_era_upsert_single_copy"),
    )


# --------------------------------------------------------------------------
# S40: DELETION-VECTOR PURGE (Delta's REORG TABLE ... APPLY (PURGE),
# operators/txnlog.py purge_deletion_vectors). The third leg of the
# merge-on-read lifecycle: write DV (delete_keys_deferred) →
# read-subtract (every read anti-joins the tombstones) → PURGE
# (rewrite ONLY the masked files minus their tombstoned rows, drop
# every DV file, one atomic commit). The scenario builds a row-tracked
# three-file table, tombstones two residue classes across two DV
# commits, purges, and proves: reads identical pre/post (row ids
# included — the purge rewrite materializes them), zero DV files
# remain, the file that contained no masked row is kept BY IDENTITY,
# and a second purge is a no-op. The oracle reconstructs every
# surviving row's exact id from the same deterministic batch order
# (s38's construction), so the hash pins id preservation through the
# purge, not just the survivor set.
# --------------------------------------------------------------------------
_S40_SHIFT = 30_000_000


@query(
    "s40_txnlog_dv_purge",
    survey="beyond:txnlog,beyond:row-tracking,S7",
    priority=60,
    oracle=f"""
    WITH h AS (
        SELECT CAST(MAX(s_suppkey) // 2 AS BIGINT) AS h FROM supplier
    ),
    b1 AS (
        SELECT s_suppkey,
               ROW_NUMBER() OVER (ORDER BY s_suppkey) - 1 AS row_id
        FROM supplier WHERE s_suppkey <= (SELECT h FROM h)
    ),
    b2 AS (
        SELECT s_suppkey,
               (SELECT COUNT(*) FROM b1)
               + ROW_NUMBER() OVER (ORDER BY s_suppkey) - 1 AS row_id
        FROM supplier WHERE s_suppkey > (SELECT h FROM h)
    ),
    b3 AS (
        SELECT s_suppkey + {_S40_SHIFT} AS s_suppkey,
               (SELECT COUNT(*) FROM supplier)
               + ROW_NUMBER() OVER (ORDER BY s_suppkey) - 1 AS row_id
        FROM supplier
        WHERE s_suppkey <= (SELECT h FROM h)
          AND (s_suppkey + {_S40_SHIFT}) % 7 <> 0
          AND (s_suppkey + {_S40_SHIFT}) % 11 <> 3
    ),
    unioned AS (
        SELECT * FROM b1 WHERE s_suppkey % 7 <> 0 AND s_suppkey % 11 <> 3
        UNION ALL
        SELECT * FROM b2 WHERE s_suppkey % 7 <> 0 AND s_suppkey % 11 <> 3
        UNION ALL
        SELECT * FROM b3
    )
    SELECT s_suppkey, row_id,
           TRUE AS reads_identical_pre_post,
           TRUE AS zero_dvs_after_purge,
           TRUE AS clean_file_kept_by_identity,
           TRUE AS second_purge_noop
    FROM unioned
    """,
)
def s40_txnlog_dv_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    from ..operators.txnlog import ROWID_COL, TxnLogTable

    src = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    h = src.agg(F.max("s_suppkey")).collect()[0][0] // 2
    root = tempfile.mkdtemp(prefix="rqe-s40-")
    t = TxnLogTable(spark, f"{root}/s", src.schema, ["s_suppkey"])
    t.enable_row_tracking()

    def sorted1(df: DataFrame) -> DataFrame:
        return df.repartition(1).sortWithinPartitions("s_suppkey")

    t.init(sorted1(src.filter(F.col("s_suppkey") <= h)))
    t.append(sorted1(src.filter(F.col("s_suppkey") > h)))
    # third file: shifted keys avoiding BOTH tombstoned residues, so
    # no DV ever masks it — the purge must keep it by identity
    t.append(
        sorted1(
            src.filter(
                (F.col("s_suppkey") <= h)
                & ((F.col("s_suppkey") + _S40_SHIFT) % 7 != 0)
                & ((F.col("s_suppkey") + _S40_SHIFT) % 11 != 3)
            ).select(
                (F.col("s_suppkey") + _S40_SHIFT).alias("s_suppkey"),
                "s_name",
                "s_acctbal",
            )
        )
    )
    with open(
        t._log_path(t.current_version()), encoding="utf-8"
    ) as fh:
        clean_paths = {
            a["add"]["path"]
            for a in _json.load(fh)["actions"]
            if "add" in a
        }

    # two MOR deletes -> two live DV files over batches 1-2
    t.delete_keys_deferred(
        src.filter(F.col("s_suppkey") % 7 == 0).select("s_suppkey")
    )
    t.delete_keys_deferred(
        src.filter(F.col("s_suppkey") % 11 == 3).select("s_suppkey")
    )
    pre = {
        r.s_suppkey: r[ROWID_COL]
        for r in t.read_with_row_ids().collect()
    }
    assert t._split_live()[1], "scenario requires live DVs"

    v = t.purge_deletion_vectors()
    assert v is not None, "purge found nothing to do"
    post_data, post_dvs = t._split_live()
    zero_dvs = not post_dvs
    assert zero_dvs, "DV files survived the purge"
    post = {
        r.s_suppkey: r[ROWID_COL]
        for r in t.read_with_row_ids().collect()
    }
    identical = post == pre
    assert identical, "purge changed the table's rows or ids"
    kept = clean_paths <= set(post_data)
    assert kept, "purge rewrote a file containing no masked row"
    noop = t.purge_deletion_vectors() is None
    assert noop, "second purge was not a no-op"

    return t.read_with_row_ids().select(
        "s_suppkey",
        F.col(ROWID_COL).alias("row_id"),
        F.lit(identical).alias("reads_identical_pre_post"),
        F.lit(zero_dvs).alias("zero_dvs_after_purge"),
        F.lit(kept).alias("clean_file_kept_by_identity"),
        F.lit(noop).alias("second_purge_noop"),
    )


# --------------------------------------------------------------------------
# S41: SNAPSHOT DIFF VIA STABLE ROW IDS (Iceberg v3 changelog-view /
# Delta row-lineage shape): classify every row across two table
# versions as inserted / deleted / updated / unchanged by FULL-OUTER
# JOINING the two snapshots ON THE ROW ID — no CDF subscription
# needed, just two time-travel reads. This is exactly what row-id
# PRESERVATION through copy-on-write buys (round-9 semantics): an
# UPDATE surfaces as one 'updated' row, not a spurious delete+insert
# pair, because the rewritten row kept the id it was born with. The
# oracle reconstructs the classification of every id from the same
# deterministic batch construction as s38/s40, so the hash pins both
# the id assignment AND the preserve-through-update semantics.
# --------------------------------------------------------------------------
_S41_SHIFT = 40_000_000


@query(
    "s41_txnlog_rowid_diff",
    survey="beyond:txnlog,beyond:row-tracking,beyond:changelog",
    priority=60,
    oracle=f"""
    WITH h AS (
        SELECT CAST(MAX(s_suppkey) // 2 AS BIGINT) AS h FROM supplier
    ),
    b1 AS (
        SELECT s_suppkey,
               ROW_NUMBER() OVER (ORDER BY s_suppkey) - 1 AS row_id
        FROM supplier WHERE s_suppkey <= (SELECT h FROM h)
    ),
    b2 AS (
        SELECT s_suppkey,
               (SELECT COUNT(*) FROM b1)
               + ROW_NUMBER() OVER (ORDER BY s_suppkey) - 1 AS row_id
        FROM supplier WHERE s_suppkey > (SELECT h FROM h)
    ),
    v1 AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
    b3 AS (
        SELECT s_suppkey + {_S41_SHIFT} AS s_suppkey,
               (SELECT COUNT(*) FROM supplier)
               + ROW_NUMBER() OVER (ORDER BY s_suppkey) - 1 AS row_id
        FROM supplier WHERE s_suppkey <= (SELECT h FROM h)
    )
    SELECT s_suppkey, row_id,
           CASE WHEN s_suppkey % 7 = 3 THEN 'deleted'
                WHEN s_suppkey % 5 = 0 THEN 'updated'
                ELSE 'unchanged' END AS change
    FROM v1
    UNION ALL
    SELECT s_suppkey, row_id, 'inserted' FROM b3
    """,
)
def s41_txnlog_rowid_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.txnlog import ROWID_COL, TxnLogTable

    src = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    h = src.agg(F.max("s_suppkey")).collect()[0][0] // 2
    root = tempfile.mkdtemp(prefix="rqe-s41-")
    t = TxnLogTable(spark, f"{root}/s", src.schema, ["s_suppkey"])
    t.enable_row_tracking()

    def sorted1(df: DataFrame) -> DataFrame:
        return df.repartition(1).sortWithinPartitions("s_suppkey")

    t.init(sorted1(src.filter(F.col("s_suppkey") <= h)))
    t.append(sorted1(src.filter(F.col("s_suppkey") > h)))
    v1 = t.current_version()

    # the round-9 semantics under test: UPDATE preserves row ids, so
    # the diff below sees ONE 'updated' row, never delete+insert
    t.update(
        F.col("s_suppkey") % 5 == 0,
        {"s_acctbal": F.col("s_acctbal") + 1},
    )
    t.delete_keys_deferred(
        src.filter(F.col("s_suppkey") % 7 == 3).select("s_suppkey")
    )
    t.append(
        sorted1(
            src.filter(F.col("s_suppkey") <= h).select(
                (F.col("s_suppkey") + _S41_SHIFT).alias("s_suppkey"),
                "s_name",
                "s_acctbal",
            )
        )
    )
    v2 = t.current_version()

    old = t.read_with_row_ids(v1).select(
        F.col(ROWID_COL).alias("row_id"),
        F.col("s_suppkey").alias("_k1"),
        F.col("s_acctbal").alias("_v1"),
    )
    new = t.read_with_row_ids(v2).select(
        F.col(ROWID_COL).alias("row_id"),
        F.col("s_suppkey").alias("_k2"),
        F.col("s_acctbal").alias("_v2"),
    )
    diff = old.join(new, "row_id", "full_outer")
    change = (
        F.when(F.col("_k1").isNull(), "inserted")
        .when(F.col("_k2").isNull(), "deleted")
        .when(F.col("_v1") != F.col("_v2"), "updated")
        .otherwise("unchanged")
    )
    return diff.select(
        F.coalesce("_k2", "_k1").alias("s_suppkey"),
        "row_id",
        change.alias("change"),
    )
