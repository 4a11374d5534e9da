"""Mutation semantics (SURVEY.md §2.1 S3-S7, U2): ParquetTable
upsert/idempotent-insert/update/delete, trade application with cost
basis, statistics-cache probe-or-compute."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from relational_query_engine_sql_spark.operators.mutation import ParquetTable
from relational_query_engine_sql_spark.operators.stats_cache import (
    cached_portfolio_statistics,
    statistics_cache_table,
)
from relational_query_engine_sql_spark.operators.trading import (
    _apply_trades_fold,
    apply_trades,
    apply_trades_closed_form,
    cash_deltas,
    ledger_entries,
    parse_ledger_symbol,
)
from relational_query_engine_sql_spark.schemas import DOMAIN_KEYS, DOMAIN_SCHEMAS


@pytest.fixture
def stockin_table(spark, tmp_path):
    tbl = ParquetTable(
        spark,
        str(tmp_path / "stockin.parquet"),
        DOMAIN_SCHEMAS["stockin"],
        keys=DOMAIN_KEYS["stockin"],
    )
    tbl.init(
        spark.createDataFrame(
            [(1, "AAPL", 10.0), (1, "MSFT", 5.0), (2, "AAPL", 7.0)],
            "listid int, symbol string, shares double",
        )
    )
    return tbl


def test_insert_ignore_is_idempotent(spark, stockin_table):
    rows = spark.createDataFrame(
        [(1, "AAPL", 99.0), (1, "GOOG", 3.0)],
        "listid int, symbol string, shares double",
    )
    added = stockin_table.insert_ignore(rows)
    assert added == 1  # AAPL conflict ignored (S4)
    again = stockin_table.insert_ignore(rows)
    assert again == 0
    out = {
        (r.listid, r.symbol): float(r.shares)
        for r in stockin_table.read().collect()
    }
    assert out[(1, "AAPL")] == 10.0  # existing row untouched
    assert out[(1, "GOOG")] == 3.0


def test_upsert_updates_and_inserts(spark, stockin_table):
    rows = spark.createDataFrame(
        [(1, "AAPL", 42.0), (3, "TSLA", 1.0)],
        "listid int, symbol string, shares double",
    )
    stockin_table.upsert(rows)  # S5: EXCLUDED wins on conflict
    out = {
        (r.listid, r.symbol): float(r.shares)
        for r in stockin_table.read().collect()
    }
    assert out[(1, "AAPL")] == 42.0
    assert out[(3, "TSLA")] == 1.0
    assert len(out) == 4


def test_update_arithmetic_and_coalesce(spark, tmp_path):
    tbl = ParquetTable(
        spark,
        str(tmp_path / "portfolio.parquet"),
        DOMAIN_SCHEMAS["portfolio"],
        keys=DOMAIN_KEYS["portfolio"],
    )
    tbl.init(
        spark.createDataFrame(
            [(1, 1, "P1", 100.0), (2, 1, "P2", 50.0)],
            "portfolioid int, userid int, name string, cashbalance double",
        )
    )
    # S6: CashBalance = CashBalance + $1 (portfolio.js:162-164)
    tbl.update(
        F.col("portfolioid") == 1,
        {"cashbalance": F.col("cashbalance") + 25},
    )
    # S6: SET Name = COALESCE($1, Name) (portfolio.js:110-114)
    tbl.update(
        F.col("portfolioid") == 2,
        {"name": F.coalesce(F.lit(None).cast("string"), F.col("name"))},
    )
    out = {r.portfolioid: (r.name, float(r.cashbalance)) for r in tbl.read().collect()}
    assert out[1] == ("P1", 125.0)
    assert out[2] == ("P2", 50.0)


def test_delete_predicate_and_keys(spark, stockin_table):
    stockin_table.delete(F.col("symbol") == "MSFT")  # S7
    assert stockin_table.read().filter(F.col("symbol") == "MSFT").count() == 0
    keys = spark.createDataFrame([(2, "AAPL")], "listid int, symbol string")
    stockin_table.delete_keys(keys)
    remaining = stockin_table.read().collect()
    assert [(r.listid, r.symbol) for r in remaining] == [(1, "AAPL")]


def test_append_rows(spark, stockin_table):
    before = stockin_table.read().count()
    stockin_table.append(
        spark.createDataFrame([(9, "NVDA", 2.0)], "listid int, symbol string, shares double")
    )
    assert stockin_table.read().count() == before + 1


# --------------------------------------------------------------------------
# U2 — cost basis
# --------------------------------------------------------------------------
def _trades(spark, rows):
    return spark.createDataFrame(
        [
            (pid, sym, side, n, p, dt.datetime(2024, 1, 1, 10, i))
            for i, (pid, sym, side, n, p) in enumerate(rows)
        ],
        "portfolioid int, symbol string, side string, shares int, price double, ts timestamp",
    )


def test_buy_weighted_average(spark):
    holdings = spark.createDataFrame(
        [(1, "AAPL", 100, 50.0)],
        "portfolioid int, symbol string, shares int, avgprice double",
    )
    trades = _trades(spark, [(1, "AAPL", "BUY", 100, 70.0)])
    out = apply_trades(holdings, trades).collect()[0]
    # (50*100 + 70*100) / 200 = 60 (trading.js:85)
    assert out.shares == 200
    assert out.avgprice == pytest.approx(60.0)


def test_sell_keeps_avg_and_full_sell_closes(spark):
    holdings = spark.createDataFrame(
        [(1, "AAPL", 100, 50.0), (1, "MSFT", 10, 90.0)],
        "portfolioid int, symbol string, shares int, avgprice double",
    )
    trades = _trades(
        spark,
        [(1, "AAPL", "SELL", 40, 66.0), (1, "MSFT", "SELL", 10, 95.0)],
    )
    out = {r.symbol: r for r in apply_trades(holdings, trades).collect()}
    assert out["AAPL"].shares == 60
    assert out["AAPL"].avgprice == pytest.approx(50.0)  # unchanged on sell
    assert out["MSFT"].shares == 0  # closed position


def test_oversell_rejected(spark):
    holdings = spark.createDataFrame(
        [(1, "AAPL", 10, 50.0)],
        "portfolioid int, symbol string, shares int, avgprice double",
    )
    trades = _trades(spark, [(1, "AAPL", "SELL", 99, 66.0)])
    out = apply_trades(holdings, trades).collect()[0]
    assert out.shares == 10  # unchanged
    assert out.rejected == 1


def test_new_position_from_first_buy(spark):
    holdings = spark.createDataFrame(
        [],
        "portfolioid int, symbol string, shares int, avgprice double",
    )
    trades = _trades(
        spark, [(2, "TSLA", "BUY", 5, 200.0), (2, "TSLA", "BUY", 5, 300.0)]
    )
    out = apply_trades(holdings, trades).collect()[0]
    assert out.shares == 10
    assert out.avgprice == pytest.approx(250.0)


def test_closed_form_matches_fold_on_path_independent_batch(spark):
    """The set-based recompute must equal the sequential fold whenever
    the precondition holds (all BUYs precede SELLs per position, no
    overdraws) — including held positions, new positions, untouched
    holdings, and fully closed positions."""
    holdings = spark.createDataFrame(
        [(1, "AAPL", 100, 50.0), (1, "MSFT", 10, 90.0), (3, "NVDA", 7, 400.0)],
        "portfolioid int, symbol string, shares int, avgprice double",
    )
    trades = _trades(
        spark,
        [
            (1, "AAPL", "BUY", 100, 70.0),   # held position, buy
            (1, "AAPL", "SELL", 40, 66.0),   # then covered sell
            (1, "MSFT", "SELL", 10, 95.0),   # full close
            (2, "TSLA", "BUY", 5, 200.0),    # new position
            (2, "TSLA", "BUY", 5, 300.0),
            # 3/NVDA: holding untouched by any trade
        ],
    )
    fold = {
        (r.portfolioid, r.symbol): r
        for r in _apply_trades_fold(holdings, trades).collect()
    }
    closed = {
        (r.portfolioid, r.symbol): r
        for r in apply_trades_closed_form(holdings, trades).collect()
    }
    assert fold.keys() == closed.keys()
    for k, f in fold.items():
        c = closed[k]
        assert (f.shares, f.rejected) == (c.shares, c.rejected), k
        if f.avgprice is None:
            assert c.avgprice is None, k
        else:
            assert c.avgprice == pytest.approx(f.avgprice, abs=1e-4), k


def test_closed_form_rejects_path_dependent_batch(spark):
    holdings = spark.createDataFrame(
        [(1, "AAPL", 100, 50.0)],
        "portfolioid int, symbol string, shares int, avgprice double",
    )
    # BUY after SELL — avg becomes path-dependent; must refuse.
    trades = _trades(
        spark,
        [(1, "AAPL", "SELL", 40, 66.0), (1, "AAPL", "BUY", 10, 70.0)],
    )
    with pytest.raises(ValueError, match="path-independent"):
        apply_trades_closed_form(holdings, trades).collect()
    # overdrawn sell (would be rejected by the fold) must also refuse.
    over = _trades(spark, [(1, "AAPL", "SELL", 999, 66.0)])
    with pytest.raises(ValueError, match="path-independent"):
        apply_trades_closed_form(holdings, over).collect()


def test_closed_form_matches_fold_on_u2_derived_batch(spark):
    """Pin equality on the registered u2 trade batch (sf0.001): the
    derived data places every SELL 5000 days after the last BUY, so
    the closed form must reproduce the fold exactly."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
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
        "portfolioid", "symbol", F.lit("BUY").alias("side"), "shares",
        "price", "ts",
    )
    sells = base.filter(F.col("_ok") % 7 == 0).select(
        "portfolioid", "symbol", F.lit("SELL").alias("side"),
        F.lit(1).alias("shares"), "price",
        (F.col("ts") + F.expr("INTERVAL 5000 DAYS")).alias("ts"),
    )
    holdings = spark.createDataFrame(
        [], "portfolioid int, symbol string, shares int, avgprice double"
    )
    trades = buys.unionByName(sells)
    fold = {
        (r.portfolioid, r.symbol): (r.shares, r.avgprice, r.rejected)
        for r in _apply_trades_fold(holdings, trades).collect()
    }
    closed = {
        (r.portfolioid, r.symbol): (r.shares, r.avgprice, r.rejected)
        for r in apply_trades_closed_form(holdings, trades).collect()
    }
    assert fold == closed


def test_ledger_and_cash_and_regex_roundtrip(spark):
    trades = _trades(
        spark,
        [(1, "AAPL", "BUY", 10, 50.0), (1, "AAPL", "SELL", 4, 60.0)],
    )
    led = ledger_entries(trades).orderBy("transactionid").collect()
    assert led[0].amount == -500.00 and led[1].amount == 240.00
    assert led[0].detail == "Bought 10 shares of AAPL at $50.0 each."
    # E9 round-trip: regex pulls the symbol back out
    parsed = (
        ledger_entries(trades)
        .select(parse_ledger_symbol().alias("sym"))
        .distinct()
        .collect()
    )
    assert [r.sym for r in parsed] == ["AAPL"]
    cash = cash_deltas(trades).collect()[0]
    assert float(cash.cash_delta) == -260.00


# --------------------------------------------------------------------------
# statistics_cache probe-or-compute (§4)
# --------------------------------------------------------------------------
def test_stats_cache_probe_or_compute(spark, tmp_path):
    cache = statistics_cache_table(spark, str(tmp_path / "stats_cache.parquet"))
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.createDataFrame(
            [("AAPL", 1.5, 0.9)], "symbol string, cov double, beta double"
        )

    r1 = cached_portfolio_statistics(cache, 1, "2017-01-01", "2019-01-01", compute)
    assert calls["n"] == 1 and r1.count() == 1
    r2 = cached_portfolio_statistics(cache, 1, "2017-01-01", "2019-01-01", compute)
    assert calls["n"] == 1  # cache hit — no recompute (portfolio.js:329-346)
    row = r2.collect()[0]
    assert row.symbol == "AAPL" and row.cov == pytest.approx(1.5)
    # different window → miss → recompute + upsert
    cached_portfolio_statistics(cache, 1, "2018-01-01", "2019-01-01", compute)
    assert calls["n"] == 2
    assert cache.read().count() == 2


def test_compaction_shrinks_files_preserves_content(spark, sf_oracle):
    import tempfile

    from relational_query_engine_sql_spark.sources import load_table

    ev = load_table(spark, sf_oracle, "events")
    root = tempfile.mkdtemp(prefix="rqe-compact-test-")
    t = ParquetTable(spark, f"{root}/events", ev.schema, ["event_id"])
    t.init(ev.repartition(64))
    before = t.file_count()
    total_before = t.read().count()
    t.compact(4)
    assert t.file_count() <= 4 < before
    assert t.read().count() == total_before


def test_versioned_table_time_travel_and_vacuum(spark, sf_small, tmp_path):
    from relational_query_engine_sql_spark.operators.mutation import (
        VersionedParquetTable,
    )
    from relational_query_engine_sql_spark.sources import load_table
    import pyspark.sql.functions as F

    src = load_table(spark, sf_small, "supplier")
    t = VersionedParquetTable(
        spark, str(tmp_path / "sup"), src.schema, ["s_suppkey"]
    )
    t.init(src)
    assert t.versions() == [0]
    t.upsert(src.withColumn("s_acctbal", F.col("s_acctbal") + 100.0))
    t.delete(F.col("s_suppkey") == 1)
    assert t.versions() == [0, 1, 2]
    # v0 is the pristine clone; v1 reflects the upsert; v2 the delete
    assert t.read(version=0).exceptAll(src).count() == 0
    n = src.count()
    assert t.read(version=1).count() == n
    got = t.read(version=1).filter("s_suppkey = 1").select("s_acctbal")
    want = src.filter("s_suppkey = 1").select(
        (F.col("s_acctbal") + 100.0).alias("s_acctbal")
    )
    assert got.exceptAll(want).count() == 0
    assert t.read().count() == n - 1  # latest
    # retention: vacuum keeps the newest two snapshots
    assert t.vacuum(keep_last=2) == [0]
    assert t.versions() == [1, 2]
    assert t.read(version=2).count() == n - 1


def test_merge_mixed_actions(spark, tmp_path):
    """MERGE in one pass: matched+D deletes, matched+U updates (only
    when the extra target-side condition holds), unmatched source rows
    insert, untouched target rows survive unchanged."""
    tbl = ParquetTable(
        spark,
        str(tmp_path / "m.parquet"),
        T.StructType(
            [
                T.StructField("k", T.IntegerType()),
                T.StructField("v", T.DoubleType()),
                T.StructField("seg", T.StringType()),
            ]
        ),
        keys=["k"],
    )
    tbl.init(
        spark.createDataFrame(
            [(1, 10.0, "A"), (2, 20.0, "B"), (3, 30.0, "A"), (4, 40.0, "B")],
            "k int, v double, seg string",
        )
    )
    source = spark.createDataFrame(
        [
            (1, "U", 0.0, ""),   # matched, seg A -> updated
            (2, "U", 0.0, ""),   # matched, seg B -> update_cond false, kept
            (3, "D", 0.0, ""),   # matched -> deleted
            (9, "I", 99.0, "C"), # unmatched -> inserted
        ],
        "k int, flag string, v double, seg string",
    )
    tbl.merge(
        source,
        update_assign={"v": F.col("v") + 5},
        update_cond=(F.col("_s_flag") == "U") & (F.col("seg") == "A"),
        delete_cond=F.col("_s_flag") == "D",
    )
    got = {r["k"]: (r["v"], r["seg"]) for r in tbl.read().collect()}
    assert got == {
        1: (15.0, "A"),   # updated
        2: (20.0, "B"),   # matched but condition false
        4: (40.0, "B"),   # untouched
        9: (99.0, "C"),   # inserted
    }


def test_commit_conflict_preserves_chain(spark, sf_small, tmp_path):
    """A losing CAS must leave no partial state: the staged write is
    cleaned up, the version chain is untouched, and a rebase through
    modify_with_retry lands exactly one new version."""
    import os

    from relational_query_engine_sql_spark.operators.mutation import (
        CommitConflict,
        VersionedParquetTable,
    )
    from relational_query_engine_sql_spark.sources import load_table

    src = load_table(spark, sf_small, "nation")
    t = VersionedParquetTable(
        spark, str(tmp_path / "nation"), src.schema, ["n_nationkey"]
    )
    t.init(src)
    base = t.read(0)
    t.commit_as(base.limit(5), 0)
    assert t.versions() == [0, 1]
    try:
        t.commit_as(base.limit(3), 0)
        raise AssertionError("stale CAS must conflict")
    except CommitConflict:
        pass
    assert t.versions() == [0, 1]  # chain untouched
    # no staging litter
    parent = os.path.dirname(str(tmp_path / "nation"))
    assert not [p for p in os.listdir(parent) if ".staging-" in p]
    v = t.modify_with_retry(lambda df: df.limit(2))
    assert v == 2 and t.read().count() == 2
