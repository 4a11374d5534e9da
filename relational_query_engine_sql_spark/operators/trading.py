"""Trade application with weighted-average cost basis (SURVEY.md §2.10
U2, §2.4 A8).

Reference semantics (/root/reference/src/routes/trading.js):
- BUY (:81-97): existing holding → newAvg = (avg·shares + price·n)
  / (shares + n), shares += n; no holding → insert at avg = price.
- SELL (:185-200): shares -= n, avg unchanged; shares hitting 0
  deletes the holding; selling more than held is rejected (:174-183).
- Every trade writes a signed ledger row with the detail string format
  the UI regex-parses back (:105,215).

The reference runs check→update→update→insert WITHOUT a transaction
(SURVEY.md §3 flags the gap). Here a whole trade batch is applied as
ONE atomic recompute: holdings, cash, and ledger all derive from the
same input DataFrames and swap in together.

The per-position fold is inherently sequential in trade order, so it
runs as a grouped-map Pandas UDF (``applyInPandas``) — one group per
(portfolio, symbol) position, Arrow-batched, parallel across
positions. At 100 TB of trades this shuffles once on the position key;
group size is bounded by trades-per-position, not table size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

TRADE_COLUMNS = ["portfolioid", "symbol", "side", "shares", "price", "ts"]

_FOLD_SCHEMA = (
    "portfolioid int, symbol string, shares int, avgprice double, rejected int"
)


def _fold_position(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sequential fold of one (portfolio, symbol) position.

    Input rows: the existing holding (kind=0, at most one) plus trades
    (kind=1) — sorted here by (kind, ts) so the holding seeds the state.
    """
    pdf = pdf.sort_values(["kind", "ts", "rowid"]).reset_index(drop=True)
    shares = 0
    avg = 0.0
    rejected = 0
    pid = int(pdf["portfolioid"].iloc[0])
    sym = pdf["symbol"].iloc[0]
    for row in pdf.itertuples(index=False):
        if row.kind == 0:
            shares = int(row.shares)
            avg = float(row.price)
            continue
        n = int(row.shares)
        p = float(row.price)
        if row.side == "BUY":
            new_shares = shares + n
            avg = (avg * shares + p * n) / new_shares if new_shares else p
            shares = new_shares
        else:  # SELL — reject if insufficient (trading.js:174-183)
            if n > shares:
                rejected += 1
                continue
            shares -= n  # avg unchanged (trading.js:185-200)
    if shares == 0:
        # full sell deletes the holding (trading.js:196-199); emit the
        # tombstone so callers can still see rejected counts.
        return pd.DataFrame(
            [[pid, sym, 0, None, rejected]],
            columns=["portfolioid", "symbol", "shares", "avgprice", "rejected"],
        )
    return pd.DataFrame(
        [[pid, sym, shares, round(avg, 4), rejected]],
        columns=["portfolioid", "symbol", "shares", "avgprice", "rejected"],
    )


def _positions(holdings: DataFrame, trades: DataFrame) -> DataFrame:
    """One row per position: the batch's BUY shares and cost, SELL
    shares, last BUY and first SELL time, and the holding it starts
    from — the keyed aggregate both the routing predicate and the
    closed form read."""
    t = trades.select(
        "portfolioid",
        "symbol",
        F.col("shares").cast("int").alias("sh"),
        F.col("price").cast("double").alias("p"),
        "side",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    agg = t.groupBy("portfolioid", "symbol").agg(
        F.sum(F.when(F.col("side") == "BUY", F.col("sh")).otherwise(0)).alias(
            "_buy_sh"
        ),
        F.sum(
            F.when(F.col("side") == "BUY", F.col("sh") * F.col("p")).otherwise(
                0.0
            )
        ).alias("_buy_cost"),
        F.sum(F.when(F.col("side") != "BUY", F.col("sh")).otherwise(0)).alias(
            "_sell_sh"
        ),
        F.max(F.when(F.col("side") == "BUY", F.col("ts"))).alias("_max_buy"),
        F.min(F.when(F.col("side") != "BUY", F.col("ts"))).alias("_min_sell"),
    )
    h = holdings.select(
        "portfolioid",
        "symbol",
        F.col("shares").cast("int").alias("_h_sh"),
        F.col("avgprice").cast("double").alias("_h_avg"),
    )
    return agg.join(h, ["portfolioid", "symbol"], "full_outer").select(
        "portfolioid",
        "symbol",
        F.coalesce("_buy_sh", F.lit(0)).alias("_buy_sh"),
        F.coalesce("_buy_cost", F.lit(0.0)).alias("_buy_cost"),
        F.coalesce("_sell_sh", F.lit(0)).alias("_sell_sh"),
        "_max_buy",
        "_min_sell",
        F.coalesce("_h_sh", F.lit(0)).alias("_h_sh"),
        F.coalesce("_h_avg", F.lit(0.0)).alias("_h_avg"),
    )


def _path_dependent() -> Column:
    """True for a position whose fold depends on trade order: a BUY at
    or after a SELL, or sells that overdraw the position. NULL-safe:
    positions with no sells (or no buys) trivially have no
    BUY-after-SELL interleaving."""
    interleaved = (
        F.col("_min_sell").isNotNull()
        & F.col("_max_buy").isNotNull()
        & (F.col("_max_buy") >= F.col("_min_sell"))
    )
    overdrawn = F.col("_h_sh") + F.col("_buy_sh") < F.col("_sell_sh")
    return interleaved | overdrawn


def _closed_form(pos: DataFrame) -> DataFrame:
    """The fold's result for path-independent positions of
    :func:`_positions`:

        shares   = h + Σ buy_sh − Σ sell_sh
        avgprice = (h·h_avg + Σ buy_sh·price) / (h + Σ buy_sh)
        rejected = 0
    """
    total_in = F.col("_h_sh") + F.col("_buy_sh")
    shares = total_in - F.col("_sell_sh")
    avg = (
        F.col("_h_sh") * F.col("_h_avg") + F.col("_buy_cost")
    ) / total_in
    return pos.select(
        "portfolioid",
        "symbol",
        shares.cast("int").alias("shares"),
        F.when(shares == 0, F.lit(None).cast("double"))
        .otherwise(F.round(avg, 4))
        .alias("avgprice"),
        F.lit(0).alias("rejected"),
    )


def apply_trades(holdings: DataFrame, trades: DataFrame) -> DataFrame:
    """Apply a trade batch to positions.

    ``holdings``: (portfolioid, symbol, shares, avgprice[, ...]).
    ``trades``: (portfolioid, symbol, side BUY|SELL, shares, price, ts).
    Returns the new position table (portfolioid, symbol, shares,
    avgprice, rejected) — rows with shares == 0 are closed positions.

    Each position is routed adaptively: positions whose batch is
    provably price-path-independent — every BUY strictly precedes
    every SELL (ties route to the fold) and cumulative sells never
    overdraw, so no rejection can occur — collapse to the closed-form
    JVM aggregate; only genuinely stateful positions cross the Arrow
    boundary into the sequential Python fold. The routing predicate is
    computed by the SAME keyed aggregate the closed form needs, so
    qualifying positions cost two aggregates and a join, all map-side
    combinable. At 100 TB this is the difference between "every trade
    row flows through Python" and "Python sees only the pathological
    positions" (typically none: batch imports and end-of-day files are
    sorted). The closed form is pinned equal to the fold on qualifying
    batches in tests/test_mutation.py.

    NOTE: this call is EAGER — the position table is localCheckpointed
    and the stateful-key probe runs Spark jobs at call time (that is
    what lets an all-closed-form batch skip planning the Python fold
    subtree entirely).
    """
    pos = _positions(holdings, trades).localCheckpoint(eager=True)
    # ^ pos feeds the closed-form branch AND the stateful-key probe; it
    # is one row per POSITION (not per trade), so the cut is metadata-
    # scale and saves re-running the trade aggregate + full-outer join
    # per branch.
    stateful = _path_dependent()
    closed = _closed_form(pos.filter(~stateful))
    bad_keys = pos.filter(stateful).select("portfolioid", "symbol")
    # Typical batches (sorted imports, end-of-day files) have ZERO
    # stateful positions; the probe is one cheap scan of the
    # checkpointed position table, and skipping the fold removes the
    # whole Arrow/applyInPandas subtree (and its extra holdings+trades
    # scans) from the executed plan (guide §4: eliminate the Python
    # boundary when built-ins cover the case).
    if bad_keys.isEmpty():
        return closed
    folded = _apply_trades_fold(
        holdings.join(bad_keys, ["portfolioid", "symbol"], "left_semi"),
        trades.join(bad_keys, ["portfolioid", "symbol"], "left_semi"),
    )
    return closed.unionByName(folded)


def _apply_trades_fold(holdings: DataFrame, trades: DataFrame) -> DataFrame:
    """The general sequential path: one Python fold per position."""
    h = holdings.select(
        "portfolioid",
        "symbol",
        F.col("shares").cast("int").alias("shares"),
        F.col("avgprice").cast("double").alias("price"),
        F.lit("HOLD").alias("side"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(0).alias("kind"),
    )
    t = trades.select(
        "portfolioid",
        "symbol",
        F.col("shares").cast("int").alias("shares"),
        F.col("price").cast("double").alias("price"),
        "side",
        F.col("ts").cast("timestamp").alias("ts"),
        F.lit(1).alias("kind"),
    )
    unioned = h.unionByName(t).withColumn(
        "rowid", F.monotonically_increasing_id()
    )
    return unioned.groupBy("portfolioid", "symbol").applyInPandas(
        _fold_position, schema=_FOLD_SCHEMA
    )


def apply_trades_closed_form(
    holdings: DataFrame, trades: DataFrame, verify: bool = True
) -> DataFrame:
    """Set-based recompute of :func:`apply_trades` for the
    price-path-independent case.

    The sequential fold is only *necessary* when a BUY follows a SELL
    (the sell changes the share weight later buys average against) or
    a SELL overdraws the position (rejection depends on running
    state). When, per position, every BUY precedes every SELL and
    cumulative sells never exceed holding+buys, the fold collapses to
    closed form (:func:`_closed_form`) — exactly the form the u2
    oracle uses.

    Two keyed aggregates and a join instead of a per-group Python
    fold: no Arrow boundary, map-side partial aggregation, and no
    sensitivity to trades-per-position skew — at 100 TB with few,
    deep positions this is the path to prefer whenever the batch
    qualifies. ``verify=True`` checks the precondition with one
    aggregate pass (max BUY ts < min SELL ts and coverage per
    position) and raises ``ValueError`` naming the violating
    positions; the fold remains the general path.
    """
    pos = _positions(holdings, trades)
    if verify:
        sample = (
            pos.filter(_path_dependent())
            .select("portfolioid", "symbol")
            .take(5)
        )
        if sample:
            raise ValueError(
                "trade batch is not price-path-independent (BUY after "
                f"SELL or overdrawn position) for e.g. {sample}; use "
                "apply_trades"
            )
    return _closed_form(pos)


def ledger_entries(trades: DataFrame, start_id: int = 1) -> DataFrame:
    """Signed ledger rows in the reference's exact detail format
    (trading.js:105,215): BUY → negative amount, SELL → positive.

    Transaction ids are SERIAL-like: dense, deterministic, starting at
    ``start_id``. Postgres SERIAL guarantees uniqueness, not insertion
    order, so no global total order is required — ids are assigned with
    a window partitioned by ``portfolioid`` plus per-portfolio offsets
    (cumulative counts over the tiny portfolio-count frame). Every
    shuffle is keyed by portfolio; no single-reducer Exchange appears
    in the plan (pinned in tests/test_plan_properties.py).
    """
    amount = F.when(
        F.col("side") == "BUY", -F.col("price") * F.col("shares")
    ).otherwise(F.col("price") * F.col("shares"))
    verb = F.when(F.col("side") == "BUY", F.lit("Bought")).otherwise(F.lit("Sold"))
    detail = F.format_string(
        "%s %d shares of %s at $%s each.",
        verb,
        F.col("shares").cast("int"),
        F.col("symbol"),
        F.col("price").cast("string"),
    )
    # per-portfolio dense rank: rows shuffle on portfolioid only. The
    # order key covers every trade attribute so ties are only between
    # fully identical (interchangeable) rows — id↔amount pairing is
    # deterministic across runs.
    w_local = F.row_number().over(
        W.partitionBy("portfolioid").orderBy(
            "ts", "symbol", "side", "shares", "price"
        )
    )
    # per-portfolio id offsets: cumulative counts over one row per
    # portfolio — broadcast-sized at any realistic portfolio count.
    counts = trades.groupBy("portfolioid").agg(F.count("*").alias("_n"))
    offsets = counts.select(
        "portfolioid",
        (
            F.coalesce(
                F.sum("_n").over(
                    W.orderBy("portfolioid").rowsBetween(
                        W.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            )
            + F.lit(start_id)
        ).alias("_base"),
    )
    return (
        trades.withColumn("_rn", w_local)
        .join(F.broadcast(offsets), "portfolioid")
        .select(
            (F.col("_base") + F.col("_rn") - 1).alias("transactionid"),
            "portfolioid",
            F.round(amount, 2).alias("amount"),
            detail.alias("detail"),
            F.col("ts").alias("createdat"),
        )
    )


def cash_deltas(trades: DataFrame) -> DataFrame:
    """Net cash movement per portfolio for a trade batch."""
    amount = F.when(
        F.col("side") == "BUY", -F.col("price") * F.col("shares")
    ).otherwise(F.col("price") * F.col("shares"))
    return trades.groupBy("portfolioid").agg(
        F.round(F.sum(amount), 2).alias("cash_delta")
    )


def parse_ledger_symbol(detail_col: str = "detail") -> F.Column:
    """Extract the symbol back out of a ledger detail string —
    the reference's regex `/of ([A-Z]{1,5})/i`
    (trading.js:215, transaction.js:37-38)."""
    return F.regexp_extract(F.col(detail_col), r"(?i)of ([A-Z]{1,5})", 1)
