"""Gap filling, ranking with ties, and data-quality assertions.

- ``w4_gap_fill`` densifies the sparse per-user daily activity series
  (the chart-feeding pattern the reference assumes is dense).
- ``w5_rank_ties`` exercises rank vs dense_rank under genuine ties
  (bucketized order key) — well-defined in both engines regardless of
  within-tie row order, unlike row_number.
- ``dq_violation_counts`` maps the reference's CHECK constraints
  (sql/schema.sql:30,95 — Spark schemas can't enforce them, SURVEY
  §1.2) to explicit assertion counts: one conditional-aggregation scan
  per table, zero rows moved when clean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.timeseries import gap_fill
from ..sources import load_table, local_frame
from .numeric import money_sum
from .registry import query


@query(
    "w4_gap_fill",
    survey="ext:gap-fill",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(27,6))), 4) AS DOUBLE)
                   AS v
        FROM events
        GROUP BY user_id, CAST(ts AS DATE)
    ),
    bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
    scaffold AS (
        SELECT u.user_id, UNNEST(generate_series(b.lo, b.hi,
                                                 INTERVAL 1 DAY))::DATE AS d
        FROM (SELECT DISTINCT user_id FROM daily) u CROSS JOIN bounds b
    )
    SELECT s.user_id, s.d,
           last_value(daily.v IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.d
               ROWS UNBOUNDED PRECEDING) AS filled
    FROM scaffold s
    LEFT JOIN daily ON daily.user_id = s.user_id AND daily.d = s.d
    """,
)
def w4_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(money_sum(F.col("value"), 4).alias("v"))
    return gap_fill(daily, key="user_id", time_col="d", value_col="v")


@query(
    "w5_rank_ties",
    survey="ext:rank-ties",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(o_totalprice / 10000, 0) AS price_bucket,
           RANK() OVER (
               PARTITION BY o_custkey
               ORDER BY ROUND(o_totalprice / 10000, 0) DESC) AS rnk,
           DENSE_RANK() OVER (
               PARTITION BY o_custkey
               ORDER BY ROUND(o_totalprice / 10000, 0) DESC) AS drnk
    FROM orders
    """,
)
def w5_rank_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = F.round(F.col("o_totalprice") / 10000, 0)
    w = W.partitionBy("o_custkey").orderBy(bucket.desc())
    return o.select(
        "o_custkey",
        "o_orderkey",
        bucket.alias("price_bucket"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@query(
    "dq_violation_counts",
    survey="ext:data-quality",
    oracle="""
    SELECT 'lineitem.quantity_positive' AS rule,
           COUNT(CASE WHEN l_quantity <= 0 THEN 1 END) AS violations
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.discount_in_range',
           COUNT(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END)
    FROM lineitem
    UNION ALL
    SELECT 'orders.status_in_domain',
           COUNT(CASE WHEN o_orderstatus NOT IN ('P', 'O', 'F') THEN 1 END)
    FROM orders
    UNION ALL
    SELECT 'events.value_not_null',
           COUNT(CASE WHEN value IS NULL THEN 1 END)
    FROM events
    """,
)
def dq_violation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")

    def check(df: DataFrame, rule: str, bad: F.Column) -> DataFrame:
        return df.agg(
            F.lit(rule).alias("rule"),
            F.count(F.when(bad, 1)).alias("violations"),
        )

    return (
        check(li, "lineitem.quantity_positive", F.col("l_quantity") <= 0)
        .unionAll(
            check(
                li,
                "lineitem.discount_in_range",
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
            )
        )
        .unionAll(
            check(
                o,
                "orders.status_in_domain",
                ~F.col("o_orderstatus").isin("P", "O", "F"),
            )
        )
        .unionAll(check(ev, "events.value_not_null", F.col("value").isNull()))
    )


# --------------------------------------------------------------------------
# Key-skew profile: the pre-shuffle diagnostic a 100 TB join/agg plan
# runs BEFORE choosing a strategy (salt? AQE skew split? broadcast?).
# Shape: per-key counts (one map-side-combined shuffle on the key) →
# count-of-counts histogram (second tiny aggregate over distinct count
# values) → exact percentiles read off the histogram's running sum, so
# no single-partition global sort over keys exists — the classic exact-
# percentile trap at scale. Every output is integer arithmetic or a
# single correctly-rounded double op (⌊100·max·n/total⌋), so both
# engines agree bit-for-bit.
# --------------------------------------------------------------------------
@query(
    "dq_skew_profile",
    survey="ext:skew-profile",
    priority=60,
    oracle="""
    WITH per_key AS (
        SELECT l_orderkey AS k, COUNT(*) AS cnt
        FROM lineitem GROUP BY l_orderkey
    ),
    hist AS (
        SELECT cnt, COUNT(*) AS freq FROM per_key GROUP BY cnt
    ),
    cum AS (
        SELECT cnt, freq,
               SUM(freq) OVER (ORDER BY cnt
                               ROWS UNBOUNDED PRECEDING) AS cum
        FROM hist
    ),
    tot AS (
        SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS total_rows,
               MAX(cnt) AS max_cnt
        FROM per_key
    ),
    pct AS (
        SELECT MIN(CASE WHEN cum >= (n_keys + 1) // 2 THEN cnt END)
                   AS p50_cnt,
               MIN(CASE WHEN cum >= (9 * n_keys + 9) // 10 THEN cnt END)
                   AS p90_cnt,
               MIN(CASE WHEN cum >= (99 * n_keys + 99) // 100 THEN cnt END)
                   AS p99_cnt
        FROM cum CROSS JOIN tot
    ),
    top AS (
        SELECT MIN(k) AS top_key FROM per_key
        WHERE cnt = (SELECT max_cnt FROM tot)
    )
    SELECT n_keys, total_rows, max_cnt, p50_cnt, p90_cnt, p99_cnt,
           CAST(FLOOR(100.0 * max_cnt * n_keys / total_rows) AS BIGINT)
               AS skew_x100,
           top_key
    FROM tot CROSS JOIN pct CROSS JOIN top
    """,
)
def dq_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    hist = per_key.groupBy("cnt").agg(F.count(F.lit(1)).alias("freq"))
    cum = hist.select(
        "cnt",
        F.sum("freq")
        .over(W.orderBy("cnt").rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"),
    )
    tot = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("total_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    # integer ceil positions — ⌈p·n⌉ as (p_num·n + p_den-1+…)//p_den so
    # both engines stay integral end-to-end
    cum_t = cum.crossJoin(F.broadcast(tot))
    pct = cum_t.agg(
        F.min(
            F.when(
                F.col("cum")
                >= F.floor((F.col("n_keys") + 1) / 2).cast("long"),
                F.col("cnt"),
            )
        ).alias("p50_cnt"),
        F.min(
            F.when(
                F.col("cum")
                >= F.floor((9 * F.col("n_keys") + 9) / 10).cast("long"),
                F.col("cnt"),
            )
        ).alias("p90_cnt"),
        F.min(
            F.when(
                F.col("cum")
                >= F.floor((99 * F.col("n_keys") + 99) / 100).cast("long"),
                F.col("cnt"),
            )
        ).alias("p99_cnt"),
    )
    top = (
        per_key.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") == F.col("max_cnt"))
        .agg(F.min("k").alias("top_key"))
    )
    return (
        tot.crossJoin(F.broadcast(pct))
        .crossJoin(F.broadcast(top))
        .select(
            "n_keys",
            "total_rows",
            "max_cnt",
            "p50_cnt",
            "p90_cnt",
            "p99_cnt",
            F.floor(
                100.0
                * F.col("max_cnt")
                * F.col("n_keys")
                / F.col("total_rows")
            )
            .cast("long")
            .alias("skew_x100"),
            "top_key",
        )
    )


def _zorder_oracle() -> str:
    from ..operators.layout import norm_expr, zvalue_sql

    return f"""
    WITH src AS (
        SELECT o_custkey AS x, o_orderkey AS y FROM orders
    ),
    st AS (
        SELECT MIN(x) AS xmin, MAX(x) AS xmax,
               MIN(y) AS ymin, MAX(y) AS ymax
        FROM src
    ),
    normed AS (
        SELECT x, y,
               {norm_expr('x', 'xmin', 'xmax')} AS xn,
               {norm_expr('y', 'ymin', 'ymax')} AS yn
        FROM src CROSS JOIN st
    ),
    zed AS (SELECT x, y, ({zvalue_sql('xn', 'yn')}) AS z FROM normed)
    SELECT (z >> 10) AS page, COUNT(*) AS n_rows,
           MIN(x) AS x_min, MAX(x) AS x_max,
           MIN(y) AS y_min, MAX(y) AS y_max
    FROM zed GROUP BY (z >> 10)
    """


# --------------------------------------------------------------------------
# Z-order layout audit (operators/layout.py): min/max-normalize two
# filter keys onto an 8-bit grid (integer arithmetic only),
# Morton-interleave them, page rows by z-prefix (quadtree cells), and
# report each page's bounding box in BOTH dimensions — the row-group
# statistics a z-ordered write hands to scan pruning. The Spark
# column expressions and the oracle SQL are rendered from the same
# generators, so the formulas cannot drift between engines.
# --------------------------------------------------------------------------
@query(
    "maintenance_zorder_layout",
    survey="beyond:zorder-layout",
    priority=60,
    oracle=_zorder_oracle(),
)
def maintenance_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import zorder_page_profile

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("x"), F.col("o_orderkey").alias("y")
    )
    return zorder_page_profile(o, "x", "y")


# --------------------------------------------------------------------------
# ANALYZE-style column statistics: per-column null count + exact NDV
# + total rows, the inputs a cost-based optimizer (and AQE's runtime
# re-planning) feeds on. One scan computes every column's aggregates
# in a single pass (multi-aggregate projection, map-side combined);
# the long output shape matches catalog stats tables. Exact NDV is
# the oracle-checkable choice here; the KMV/HLL sketches
# (queries_sketches.py, ext_approx_distinct) are the bounded-memory
# path the same surface would use at 100 TB.
# --------------------------------------------------------------------------
_ANALYZE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
]


@query(
    "maintenance_analyze_stats",
    survey="beyond:analyze-stats",
    priority=60,
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           COUNT(*) AS n_rows,
           COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct
    FROM orders"""
        for c in _ANALYZE_COLS
    ),
)
def maintenance_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    out = None
    for c in _ANALYZE_COLS:
        row = o.agg(
            F.lit(c).alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col(c).isNull(), 1)).alias("n_nulls"),
            F.countDistinct(F.col(c)).alias("n_distinct"),
        )
        out = row if out is None else out.unionAll(row)
    return out


# --------------------------------------------------------------------------
# Freshness lag: per event_type, how far its newest event trails the
# table's global high-water mark — the first-line data-quality monitor
# for a multi-producer ingest (a stalled producer shows up as a
# growing lag long before row counts move). Two tiny aggregates: the
# global max broadcasts into a literal-free cross join with one row.
# --------------------------------------------------------------------------
@query(
    "dq_freshness_lag",
    survey="beyond:dq-freshness",
    priority=60,
    oracle="""
    WITH hwm AS (SELECT MAX(ts) AS global_max FROM events)
    SELECT event_type,
           MAX(ts) AS last_ts,
           CAST(FLOOR((EPOCH((SELECT global_max FROM hwm))
                       - EPOCH(MAX(ts))) / 60) AS BIGINT)
               AS lag_minutes
    FROM events
    GROUP BY event_type
    """,
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hwm = ev.agg(F.max("ts").alias("global_max"))
    per_type = ev.groupBy("event_type").agg(F.max("ts").alias("last_ts"))
    return per_type.crossJoin(F.broadcast(hwm)).select(
        "event_type",
        "last_ts",
        (
            (F.unix_timestamp("global_max") - F.unix_timestamp("last_ts"))
            / 60
        )
        .cast("long")
        .alias("lag_minutes"),
    )


# --------------------------------------------------------------------------
# Referential-integrity audit: orphan counts per FK relationship via
# anti-joins. The driver tables are referentially clean (an all-zero
# result can't discriminate), so the audited orders table is derived:
# the real table plus two planted orphan rows — the check must find
# EXACTLY those, proving the anti-join sees through the clean bulk.
# At 100 TB each relationship is one anti-join against the (broadcast
# or semi-joined) parent key set; relationships run independently.
# --------------------------------------------------------------------------
@query(
    "dq_fk_orphans",
    survey="beyond:dq-referential",
    priority=60,
    oracle="""
    WITH audited AS (
        SELECT o_orderkey, o_custkey FROM orders
        UNION ALL SELECT 9900001, 8888881
        UNION ALL SELECT 9900002, 8888882
    )
    SELECT 'orders.o_custkey -> customer' AS relationship,
           COUNT(*) AS n_orphans
    FROM audited a
    WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = a.o_custkey
    )
    UNION ALL
    SELECT 'lineitem.l_orderkey -> orders', COUNT(*)
    FROM lineitem l
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
    )
    """,
)
def dq_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    audited = o.unionByName(
        local_frame(
            o.sparkSession,
            [(9900001, 8888881), (9900002, 8888882)],
            "o_orderkey long, o_custkey long",
        )
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders_orphans = audited.join(
        cust, audited.o_custkey == cust.c_custkey, "left_anti"
    ).agg(F.count(F.lit(1)).alias("n_orphans"))
    li_orphans = li.join(
        o, li.l_orderkey == o.o_orderkey, "left_anti"
    ).agg(F.count(F.lit(1)).alias("n_orphans"))
    return (
        orders_orphans.select(
            F.lit("orders.o_custkey -> customer").alias("relationship"),
            "n_orphans",
        )
    ).unionByName(
        li_orphans.select(
            F.lit("lineitem.l_orderkey -> orders").alias("relationship"),
            "n_orphans",
        )
    )


# --------------------------------------------------------------------------
# Primary-key uniqueness audit: duplicate-key counts per table —
# completing the DQ trio (CHECK constraints, FK orphans, PK
# uniqueness). The driver tables are key-clean, so the audited orders
# side is derived with one planted duplicate key; the audit must
# count EXACTLY that one. Shape: one count-per-key aggregate with a
# HAVING>1 filter per table — map-side combinable, zero rows move
# when clean.
# --------------------------------------------------------------------------
@query(
    "dq_pk_duplicates",
    survey="beyond:dq-pk-unique",
    priority=60,
    oracle="""
    WITH audited AS (
        SELECT o_orderkey FROM orders
        UNION ALL
        SELECT MIN(o_orderkey) FROM orders
    )
    SELECT 'orders.o_orderkey' AS pk,
           CAST(COUNT(*) AS BIGINT) AS n_duplicated_keys
    FROM (
        SELECT o_orderkey FROM audited
        GROUP BY o_orderkey HAVING COUNT(*) > 1
    )
    UNION ALL
    SELECT 'customer.c_custkey', CAST(COUNT(*) AS BIGINT)
    FROM (
        SELECT c_custkey FROM customer
        GROUP BY c_custkey HAVING COUNT(*) > 1
    )
    """,
)
def dq_pk_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    audited = o.unionByName(
        o.agg(F.min("o_orderkey").alias("o_orderkey"))
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")

    def dup_count(df: DataFrame, key: str, label: str) -> DataFrame:
        dups = (
            df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
        )
        return dups.agg(
            F.lit(label).alias("pk"),
            F.count(F.lit(1)).cast("long").alias("n_duplicated_keys"),
        )

    return dup_count(audited, "o_orderkey", "orders.o_orderkey").unionByName(
        dup_count(c, "c_custkey", "customer.c_custkey")
    )


@query(
    "dq_id_gaps",
    survey="beyond:dq-id-gaps,W1",
    priority=60,
    oracle="""
    WITH ks AS (
        SELECT DISTINCT l_orderkey AS k FROM lineitem
    ),
    nxt AS (
        SELECT k, LEAD(k) OVER (ORDER BY k) AS next_k FROM ks
    )
    SELECT k + 1 AS gap_start, next_k - 1 AS gap_end,
           next_k - k - 1 AS missing
    FROM nxt
    WHERE next_k - k > 1
    """,
)
def dq_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holes in a surrogate-key sequence: contiguous runs of order
    keys that appear in orders but have no lineitems — the
    referential-coverage audit behind 'why did the rollup lose rows'.
    Classic gaps-and-islands: LEAD over the DISTINCT sorted key set,
    emit [k+1, next−1] wherever consecutive keys differ by more than
    one. The DISTINCT is a map-side-combinable shuffle; the single
    ordered window runs over the deduplicated key set (≪ fact rows).
    At 100 TB the global ordering would be range-partitioned — the
    audit output (gap runs, not missing keys) stays compact even when
    billions of keys are missing."""
    ks = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("k"))
        .distinct()
    )
    w = W.orderBy("k")
    nxt = ks.withColumn("next_k", F.lead("k").over(w))
    return nxt.filter(F.col("next_k") - F.col("k") > 1).select(
        (F.col("k") + 1).alias("gap_start"),
        (F.col("next_k") - 1).alias("gap_end"),
        (F.col("next_k") - F.col("k") - 1).alias("missing"),
    )


@query(
    "ts_interpolate_linear",
    survey="beyond:linear-interpolation,E10",
    priority=60,
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS val
        FROM events GROUP BY 1, 2
    ),
    span AS (
        SELECT user_id, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY 1
    ),
    grid AS (
        SELECT s.user_id, CAST(g.d AS DATE) AS d
        FROM span s, LATERAL (
            SELECT UNNEST(generate_series(s.lo, s.hi, INTERVAL 1 DAY)) AS d
        ) g
    ),
    j AS (
        SELECT grid.user_id, grid.d, daily.val
        FROM grid LEFT JOIN daily USING (user_id, d)
    ),
    f AS (
        SELECT user_id, d, val,
            LAST_VALUE(val IGNORE NULLS) OVER wp AS pv,
            LAST_VALUE(CASE WHEN val IS NOT NULL THEN d END IGNORE NULLS)
                OVER wp AS pd,
            FIRST_VALUE(val IGNORE NULLS) OVER wn AS nv,
            FIRST_VALUE(CASE WHEN val IS NOT NULL THEN d END IGNORE NULLS)
                OVER wn AS nd
        FROM j
        WINDOW wp AS (PARTITION BY user_id ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY d
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, d,
           ROUND(CASE WHEN val IS NOT NULL THEN val
                 ELSE (nv - pv) * (date_diff('day', pd, d) * 1.0
                                   / date_diff('day', pd, nd)) + pv
                 END, 6) AS val,
           CAST(val IS NULL AS INT) AS is_interpolated
    FROM f
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing interior days in each user's
    daily-value series — the numeric upgrade of w4_gap_fill (which
    forward-fills). Each user's grid spans only their own [min, max]
    days, so no exterior extrapolation exists and prev/next anchors
    are always defined. The prev/next anchors come from two
    unbounded-frame IGNORE NULLS window passes sharing one (user, day)
    ordering — a single shuffle; per-row state is one value+date in
    each direction. The interpolation arithmetic is structured
    identically in both engines ((next−prev)·(k/g)+prev, double ops on
    identical inputs) so results are bit-reproducible."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(27,6)"))
        .cast("double")
        .alias("val")
    )
    span = daily.groupBy("user_id").agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("d")
    )
    j = grid.join(daily, ["user_id", "d"], "left")
    wp = (
        W.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wn = (
        W.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_d = F.when(F.col("val").isNotNull(), F.col("d"))
    f = j.select(
        "user_id",
        "d",
        "val",
        F.last("val", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_d, ignorenulls=True).over(wp).alias("pd"),
        F.first("val", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_d, ignorenulls=True).over(wn).alias("nd"),
    )
    interp = (F.col("nv") - F.col("pv")) * (
        F.datediff(F.col("d"), F.col("pd"))
        / F.datediff(F.col("nd"), F.col("pd"))
    ) + F.col("pv")
    return f.select(
        "user_id",
        "d",
        F.round(
            F.when(F.col("val").isNotNull(), F.col("val")).otherwise(
                interp
            ),
            6,
        ).alias("val"),
        F.col("val").isNull().cast("int").alias("is_interpolated"),
    )


@query(
    "dq_header_detail_reconcile",
    survey="beyond:dq-reconcile,A1,J1",
    priority=60,
    oracle="""
    WITH line_sums AS (
        SELECT l_orderkey,
               SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                        AS DECIMAL(27,6))) AS line_total
        FROM lineitem GROUP BY l_orderkey
    ),
    joined AS (
        SELECT o.o_orderkey,
               CAST(o.o_totalprice AS DECIMAL(27,6)) AS header_total,
               COALESCE(ls.line_total, CAST(0 AS DECIMAL(27,6)))
                   AS line_total
        FROM orders o LEFT JOIN line_sums ls
          ON o.o_orderkey = ls.l_orderkey
    )
    SELECT COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN ABS(CAST(header_total - line_total AS
                         DOUBLE)) > 1.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_mismatched,
           CAST(ROUND(SUM(ABS(header_total - line_total)), 2) AS DOUBLE)
               AS total_abs_gap
    FROM joined
    """,
)
def dq_header_detail_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header/detail reconciliation: does each order's stated total
    equal the sum of its line amounts (extended × (1−disc) × (1+tax))?
    The classic financial-close audit. Line sums are exact decimals,
    the header comparison is a single keyed left join (orders with no
    lines reconcile against 0 and surface through the same gap), and
    the report is one 3-column row however large the tables — at
    100 TB the shuffle carries (orderkey, decimal) pairs only."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(27,6)"
    line_sums = li.groupBy("l_orderkey").agg(
        F.sum(
            (
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).cast(dec)
        ).alias("line_total")
    )
    joined = orders.join(
        line_sums, orders.o_orderkey == line_sums.l_orderkey, "left"
    ).select(
        F.col("o_totalprice").cast(dec).alias("header_total"),
        F.coalesce(F.col("line_total"), F.lit(0).cast(dec)).alias(
            "line_total"
        ),
    )
    gap = F.col("header_total") - F.col("line_total")
    return joined.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.when(F.abs(gap.cast("double")) > 1.0, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_mismatched"),
        F.round(F.sum(F.abs(gap)), 2).cast("double").alias("total_abs_gap"),
    )


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]
_PROFILE_ORACLE = "WITH t AS (SELECT COUNT(*) AS n, " + ", ".join(
    f"COUNT({c}) AS nn{i}, COUNT(DISTINCT {c}) AS nd{i}"
    for i, c in enumerate(_PROFILE_COLS)
) + " FROM orders) " + " UNION ALL ".join(
    f"SELECT '{c}' AS col, n AS n_rows, n - nn{i} AS n_null, "
    f"nd{i} AS n_distinct FROM t"
    for i, c in enumerate(_PROFILE_COLS)
)


@query(
    "dq_column_profile",
    survey="beyond:dq-column-profile",
    priority=60,
    oracle=_PROFILE_ORACLE,
)
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column completeness/cardinality profile (the Deequ/
    great-expectations 'profile every column' pass a training-data
    intake runs first): row count, null count, and exact distinct
    count for every column, computed in ONE aggregate job — the
    100 TB shape is a single scan with 2N partial aggregates, never
    N separate passes. The wide 1-row aggregate is reshaped to
    long form in-plan with inline(array(struct(...))) — no driver
    collect."""
    orders = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(_PROFILE_COLS):
        aggs.append(F.count(c).alias(f"nn{i}"))
        aggs.append(F.countDistinct(c).alias(f"nd{i}"))
    wide = orders.agg(*aggs)
    structs = ", ".join(
        f"struct('{c}' AS col, n - nn{i} AS n_null, nd{i} AS n_distinct)"
        for i, c in enumerate(_PROFILE_COLS)
    )
    return wide.select(
        F.col("n").alias("n_rows"),
        F.expr(f"inline(array({structs}))"),
    ).select("col", "n_rows", "n_null", "n_distinct")
