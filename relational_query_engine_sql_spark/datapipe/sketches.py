"""Deterministic streaming sketches: Count-Min and K-Minimum-Values.

At 100 TB exact per-key state stops fitting anywhere: sketches are the
bounded-memory substitute, and they are Spark-native by construction —
every sketch cell is an associative aggregate, so the partial sketch
builds map-side in each task and the shuffle moves only the fixed-size
cell table (1 024 cells for the CMS below) no matter how many input
rows exist. That is the purest form of the map-side-combine story.

Both sketches are pure functions of the data: hashes come from md5 on
the key's decimal string, buckets are HEX SUBSTRINGS of that digest
(two hex chars = 256 buckets), never engine-private hash functions —
so the DuckDB oracle reproduces the sketch bit-for-bit and the driver
can hash-compare it like any exact query. Spark's own sketch surface
(``approx_count_distinct``) stays registered rows-only precisely
because its HLL registers are engine-private; these operators are the
portable, auditable alternative.

Estimation guarantees (pinned in tests/test_sketches.py):
- CMS: estimate ≥ true count always; overshoot bounded by the
  classical e·N/w with probability 1-(1/2)^depth.
- KMV: the k-th smallest hash's fraction of the hash space estimates
  distinct count as (k-1)/frac(h_k); merging two sketches = merge-sort
  + take-k, proving the sketch is distributive over unions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources import local_frame

CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 256  # buckets per row: one 2-hex-char slice of the digest


def _key_hash(key: Column) -> Column:
    return F.md5(key.cast("string"))


def cms_build(
    df: DataFrame, key: str, weight: str | None = None
) -> DataFrame:
    """Count-Min sketch of the frequency of ``key``: one row per
    (hash-row, bucket) cell with the total count landing there.

    The output is at most CMS_DEPTH × CMS_WIDTH rows regardless of
    input size — the whole sketch broadcasts.

    ``weight``: when the caller already holds a per-key count table
    (one row per distinct key + its count), pass the count column
    here — the cell total is then SUM(weight) instead of COUNT(*),
    an identical integer (sum of per-key counts landing in a bucket
    = rows landing there), and the raw table is not re-scanned.
    """
    rows = F.explode(
        F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))
    ).alias("i")
    cols = [_key_hash(F.col(key)).alias("h")] + (
        [F.col(weight).alias("_w")] if weight else []
    )
    cells = df.select(*cols).select("*", rows)
    agg = (
        F.sum("_w").alias("cnt")
        if weight
        else F.count(F.lit(1)).alias("cnt")
    )
    return (
        cells.select(
            "i",
            F.expr("substring(h, 1 + 2*i, 2)").alias("bucket"),
            *(["_w"] if weight else []),
        )
        .groupBy("i", "bucket")
        .agg(agg)
    )


def cms_estimate(keys: DataFrame, sketch: DataFrame, key: str) -> DataFrame:
    """Point-frequency estimates: min over the key's cell in each hash
    row. ``sketch`` is tiny (≤1 024 rows) so the lookup is a broadcast
    join; the min collapses the CMS_DEPTH matches per key."""
    k = keys.select(
        F.col(key), _key_hash(F.col(key)).alias("h")
    ).distinct()
    joined = k.join(
        F.broadcast(sketch),
        F.expr("bucket = substring(h, 1 + 2*i, 2)"),
    )
    return joined.groupBy(key).agg(F.min("cnt").alias("cms_est"))


def kmv_sketch(df: DataFrame, key: str, k: int = 64) -> DataFrame:
    """K-minimum-values distinct sketch: the k lexicographically
    smallest md5 digests of the distinct keys. ``orderBy().limit()``
    plans as TakeOrderedAndProject — per-partition partial top-k, no
    global sort — so the sketch build is one pass + one tiny exchange.
    """
    return (
        df.select(_key_hash(F.col(key)).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


HLL_P = 8  # 2^8 = 256 registers: one 2-hex-char bucket slice
HLL_M = 1 << HLL_P
HLL_TAIL_HEX = 15  # 60 bits of rho material after the bucket slice
HLL_RHO_CAP = 4 * HLL_TAIL_HEX + 1  # all-zero tail


def hll_sketch(df: DataFrame, key: str) -> DataFrame:
    """HyperLogLog register table of ``key``: (bucket, r) with r the
    max first-1-bit position observed in that bucket. At most HLL_M
    rows however large the input — and because max is associative the
    partial registers build map-side, so the shuffle moves ≤ HLL_M
    rows per task (the same bounded-state story as the CMS above; no
    pre-distinct is needed or wanted, since a distinct would shuffle
    every key).

    rho is computed with PORTABLE string ops on the hex digest — 4
    bits per leading '0' hex char, plus 3/2/1/0 more for a first
    non-zero digit of 1 / 2-3 / 4-7 / 8-f — never engine-private bit
    intrinsics, so the DuckDB oracle reproduces every register
    bit-for-bit and the driver hash-compares the sketch like an exact
    query (Spark's own ``approx_count_distinct`` HLL stays rows-only
    for exactly this reason).
    """
    parts = df.select(_key_hash(F.col(key)).alias("h")).select(
        F.substring("h", 1, 2).alias("bucket"),
        F.expr(
            f"trim(LEADING '0' FROM substring(h, 3, {HLL_TAIL_HEX}))"
        ).alias("stripped"),
    )
    first = F.substring(F.col("stripped"), 1, 1)
    extra = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    r = (
        F.when(F.col("stripped") == "", F.lit(HLL_RHO_CAP))
        .otherwise(
            4 * (F.lit(HLL_TAIL_HEX) - F.length("stripped")) + extra + 1
        )
        .cast("int")
    )
    return (
        parts.select("bucket", r.alias("r"))
        .groupBy("bucket")
        .agg(F.max("r").alias("r"))
    )


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two register tables: per-bucket max — the distributive
    law that lets 1000 executors sketch locally and ship ≤ HLL_M rows
    each. ``sketch_hll_merge`` hash-proves it cross-engine."""
    return (
        a.unionByName(b).groupBy("bucket").agg(F.max("r").alias("r"))
    )


def hll_estimate(registers: list[int], m: int = HLL_M) -> float:
    """Driver-side cardinality estimate from collected register
    values (absent buckets are 0). Standard HLL: harmonic mean with
    the small-range linear-counting correction. Exposed for tests and
    interactive use; the registered queries return the registers
    themselves (exactly comparable), not the float."""
    import math

    v = m - len(registers)  # empty registers
    s = sum(2.0**-r for r in registers) + v  # 2^-0 = 1 per empty
    alpha = 0.7213 / (1 + 1.079 / m)
    e = alpha * m * m / s
    if e <= 2.5 * m and v > 0:
        return m * math.log(m / v)
    return e


def kmv_estimate(hashes: list[str], k: int) -> float:
    """Driver-side estimate from a collected KMV sketch: distinct ≈
    (k-1) / fraction(h_k). Exposed for tests and interactive use; the
    registered query returns the sketch itself (exactly comparable),
    not the float."""
    if len(hashes) < k:
        return float(len(hashes))  # sketch saw every distinct key
    frac = int(hashes[k - 1][:15], 16) / float(16**15)
    return (k - 1) / frac


def bottomk_sample(
    df: DataFrame, value: str, identity: list[str], k: int = 256
) -> DataFrame:
    """Deterministic uniform row sample for quantile estimation: the
    ``k`` rows with the smallest md5 priority over the row identity
    (priority sampling — a uniform hash order is a uniform shuffle, so
    bottom-k by it is a uniform sample without replacement). Columns:
    ``v`` (the value as double) and ``pr`` (the priority).

    Mergeable by construction: bottom-k of a union equals bottom-k of
    the per-shard bottom-k's — the same distributive law as KMV, so
    1000 executors each ship k rows and a coordinator re-takes k.
    ``orderBy().limit()`` plans as TakeOrderedAndProject (per-partition
    partial top-k, no global sort). The secondary ``v`` sort key makes
    the boundary deterministic when duplicate identities collide on
    the same priority (the synthetic lineitem has duplicate PK pairs).

    Like KMV/CMS/HLL above, the sample is a pure md5 function of the
    data, so a SQL oracle reproduces it bit-for-bit and the driver
    hash-compares quantile estimates exactly — no float tolerance.
    """
    pr = F.md5(
        F.concat_ws("|", *[F.col(c).cast("string") for c in identity])
    )
    return (
        df.select(F.col(value).cast("double").alias("v"), pr.alias("pr"))
        .orderBy("pr", "v")
        .limit(k)
    )


def sample_quantiles(
    sample: DataFrame, ranks: dict[str, int]
) -> DataFrame:
    """Rank-pick quantile estimates from a bottom-k sample: element at
    1-based rank r in (value, priority) order. Explicit rank selection
    instead of percentile functions because interpolation semantics
    differ per engine and would break exact hash comparison. The
    window is over ≤k rows (a sketch, not data), so the unpartitioned
    sort is bounded."""
    from pyspark.sql import Window as W

    spark = sample.sparkSession
    targets = local_frame(
        spark, sorted(ranks.items()), "pq string, target_rn int"
    )
    ranked = sample.select(
        "v", F.row_number().over(W.orderBy("v", "pr")).alias("rn")
    )
    return (
        ranked.join(F.broadcast(targets), ranked.rn == targets.target_rn)
        .select("pq", "target_rn", F.col("v").alias("est"))
    )


THETA_FULL = "g"  # sorts after every hex digit: "no threshold" sentinel


def kmv_group_sketches(
    df: DataFrame, key: str, group: str, k: int = 64
) -> DataFrame:
    """Per-group KMV sketch: the ``k`` smallest distinct key digests
    within each group, as ``(g, h)`` rows. At most ``k`` rows per
    group ship however large each group is — the per-segment state a
    distributed audience-overlap estimator keeps (Theta-sketch style,
    one sketch per cohort/segment).

    The per-group bottom-k is a partitioned window over the distinct
    digests: the distinct is one shuffle on (g, h), the row_number a
    second on g — both bounded by the distinct-key count, never the
    raw row count."""
    hashed = df.select(
        F.col(group).alias("g"), _key_hash(F.col(key)).alias("h")
    ).distinct()
    return group_bottomk(hashed, k)


def group_bottomk(hashed: DataFrame, k: int = 64) -> DataFrame:
    """Bottom-k digests per group of an already-hashed distinct
    ``(g, h)`` frame — split out so callers that also need the exact
    distinct sets (audit rows) can hash once, checkpoint, and share
    the subtree."""
    from pyspark.sql import Window as W

    w = W.partitionBy("g").orderBy("h")
    return (
        hashed.select("g", "h", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= k)
        .select("g", "h")
    )


def theta_pair_overlap(sketches: DataFrame, k: int = 64) -> DataFrame:
    """Theta-sketch set algebra over per-group KMV sketches: for every
    group pair (g_a < g_b), the intersection/Jaccard estimate derived
    ONLY from the two k-row sketches.

    Standard Theta intersection: the pair's threshold θ is the
    smaller of the two sketches' k-th minimum hashes (or the
    ``THETA_FULL`` sentinel, sorting above any hex digest, when a
    sketch holds its whole group — then the sketch IS the exact set).
    Hashes below θ form a uniform sample of the union seen by both
    sketches, so |A∩B ∩ below-θ| / θ estimates |A∩B| and the
    below-θ counts give a Jaccard estimate.

    Everything here is a pure md5 function of the data — θ is a hex
    string, counts are integers, and the two estimate columns are
    single IEEE divisions of exact integers — so a SQL oracle
    reproduces every column bit-for-bit (the same portability story
    as the CMS/KMV/HLL sketches above). All frames are sketch-sized
    (#groups × k rows at most): every join below broadcasts.
    """
    st = sketches.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.max("h").alias("kth")
    )
    bound = F.when(F.col("n") < k, F.lit(THETA_FULL)).otherwise(
        F.col("kth")
    )
    a = st.select(F.col("g").alias("g_a"), bound.alias("bound_a"))
    b = st.select(F.col("g").alias("g_b"), bound.alias("bound_b"))
    pairs = a.join(F.broadcast(b), F.col("g_a") < F.col("g_b")).select(
        "g_a", "g_b", F.least("bound_a", "bound_b").alias("theta")
    )

    def below(side: str) -> DataFrame:
        return (
            pairs.join(
                F.broadcast(sketches),
                (F.col("g") == F.col(f"g_{side}"))
                & (F.col("h") < F.col("theta")),
            )
            .groupBy("g_a", "g_b")
            .agg(F.count(F.lit(1)).alias(f"n_{side}"))
        )

    x, y = sketches.alias("x"), sketches.alias("y")
    inter = (
        pairs.join(
            F.broadcast(
                x.join(
                    y,
                    (F.col("x.h") == F.col("y.h"))
                    & (F.col("x.g") < F.col("y.g")),
                ).select(
                    F.col("x.g").alias("ig_a"),
                    F.col("y.g").alias("ig_b"),
                    F.col("x.h").alias("ih"),
                )
            ),
            (F.col("ig_a") == F.col("g_a"))
            & (F.col("ig_b") == F.col("g_b"))
            & (F.col("ih") < F.col("theta")),
        )
        .groupBy("g_a", "g_b")
        .agg(F.count(F.lit(1)).alias("inter_k"))
    )

    out = (
        pairs.join(below("a"), ["g_a", "g_b"], "left")
        .join(below("b"), ["g_a", "g_b"], "left")
        .join(inter, ["g_a", "g_b"], "left")
        .na.fill(0, ["n_a", "n_b", "inter_k"])
    )
    # 15 hex chars = 60 bits: exact in BIGINT, and the int->double
    # rounding is IEEE round-nearest in every engine.
    # the divisor literal must be cast to DOUBLE explicitly: both
    # Spark and DuckDB parse a plain `...976.0` literal as DECIMAL,
    # and decimal division truncates the quotient's scale
    theta_frac = F.expr(
        "cast(cast(conv(substring(theta, 1, 15), 16, 10) as bigint)"
        " as double) / cast(1152921504606846976 as double)"
    )
    return out.select(
        "g_a",
        "g_b",
        "theta",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("inter_k").cast("long").alias("inter_k"),
        (
            F.col("inter_k")
            / (F.col("n_a") + F.col("n_b") - F.col("inter_k"))
        ).alias("jaccard_est"),
        F.when(
            F.col("theta") == THETA_FULL,
            F.col("inter_k").cast("double"),
        )
        .otherwise(F.col("inter_k") / theta_frac)
        .alias("inter_est"),
    )


def hll_group_sketches(
    df: DataFrame, key: str, group_cols: list[str]
) -> DataFrame:
    """Per-group HyperLogLog register tables: (group..., bucket, r) —
    the hypertable-rollup primitive. Same portable rho construction
    as :func:`hll_sketch` (string ops on the md5 hex, never
    engine-private bit intrinsics), with the group columns carried
    through, so ≤ HLL_M rows of state exist PER GROUP and per-group
    sketches roll up to coarser grains by per-bucket max
    (``sketch_hll_hourly_rollup`` hash-proves the law cross-engine)."""
    parts = df.select(
        *[F.col(c) for c in group_cols],
        _key_hash(F.col(key)).alias("h"),
    ).select(
        *group_cols,
        F.substring("h", 1, 2).alias("bucket"),
        F.expr(
            f"trim(LEADING '0' FROM substring(h, 3, {HLL_TAIL_HEX}))"
        ).alias("stripped"),
    )
    first = F.substring(F.col("stripped"), 1, 1)
    extra = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    r = (
        F.when(F.col("stripped") == "", F.lit(HLL_RHO_CAP))
        .otherwise(
            4 * (F.lit(HLL_TAIL_HEX) - F.length("stripped")) + extra + 1
        )
        .cast("int")
    )
    return (
        parts.select(*group_cols, "bucket", r.alias("r"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("r").alias("r"))
    )
