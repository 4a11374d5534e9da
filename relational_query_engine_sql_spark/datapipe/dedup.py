"""Deduplication operators for a training-data pipeline.

Five dedup families, all engine-native (no Python UDFs) and all
oracle-checkable because the hash primitive is md5 (identical hex
output in Spark and DuckDB):

- exact          — hash-groupBy on normalized text.
- n-gram Jaccard — per-shingle bucket pairs (exact similarity, the
                   verification primitive the approximate methods reuse).
- MinHash + LSH  — md5-string minhash signature, banded; candidate
                   pairs come from band-bucket equi-joins, then are
                   verified with true Jaccard. At 100 TB this is THE
                   scale path: the only join is on band keys, never
                   all-pairs.
- SimHash        — 16-bit sign-sum fingerprint from per-token md5 bits;
                   Hamming-close fingerprints → near-dups.
- embedding cosine — see ``similarity.py``.

Scale notes: shingling explodes ~n_tokens rows per doc but they are
(doc_id, shingle) pairs that immediately feed a groupBy/join — classic
map-heavy, shuffle-on-shingle shape. Hot shingles (stop-phrases) are
the skew risk; production would frequency-cap shingles (drop shingles
appearing in > X% of docs) — provided here via ``max_shingle_df``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import tokens, word_ngrams

DEFAULT_SHINGLE = 3
DEFAULT_MINHASHES = 4  # 2 bands x 2 rows
DEFAULT_BANDS = 2


def normalized(text_col: str = "text") -> F.Column:
    return F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup by content hash: one survivor (min id) per distinct
    normalized text. Output: (keeper, n_copies). Single shuffle on the
    16-byte hash — the cheapest possible dedup at any scale."""
    return (
        df.select(F.col(id_col), F.md5(normalized(text_col)).alias("h"))
        .groupBy("h")
        .agg(
            F.min(id_col).alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keeper", "n_copies")
    )


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, sh).

    Built with sequence+transform+explode — array ops, no Python.
    Documents shorter than n shingle to nothing (dropped). The token
    array is selected into a column once, so the per-shingle lambda
    slices it instead of re-splitting the text."""
    return (
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("_w"))
        .select("id", F.explode(word_ngrams(F.col("_w"), n)).alias("sh"))
        .distinct()
    )


def bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    id_col: str = "id",
    d1: str = "d1",
    d2: str = "d2",
) -> DataFrame:
    """All (d1 < d2) id pairs per key bucket via ONE exchange.

    The classic formulation self-joins the bucket table on the key,
    which shuffles the same rows twice (the two sides project the id
    under different names, so their exchanges are not identical and
    ReusedExchange never fires) and still needs a third exchange for
    any downstream per-pair aggregate. One groupBy(key) + sorted
    collect_list + in-array pair explode emits the IDENTICAL pair
    multiset from a single exchange of the bucket table (§2.3/§2.4):
    per bucket the sorted id array [x1 <= x2 <= ... <= xm] expands to
    the pairs (xi, xj), i < j, and the d1 < d2 filter drops the equal
    pairs a repeated id forms — exactly the join's output multiset.
    Rows with a null key are dropped (an equi-join never matches
    them); null ids drop out of ``collect_list`` as they drop out of
    the join's d1 < d2 predicate.

    The expansion is ``posexplode`` + ``explode(slice(...))``: two
    Generate operators over compiled array expressions, no lambda.

    Skew note: a bucket of m ids holds its m ids in one array row and
    emits up to m(m-1)/2 pair rows from a single task — the self-join
    also lands a hot key in a single task and emits the same pairs;
    callers cap degenerate buckets (max_shingle_df / max_bucket_size).
    """
    g = (
        rows.dropna(subset=keys)
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list(id_col)).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    # elements strictly after position _i (slice is 1-based and
    # truncates at the end, so size(_ids) is a safe length)
    return (
        g.select("_ids", F.posexplode("_ids").alias("_i", d1))
        .select(
            d1,
            F.explode(
                F.slice("_ids", F.col("_i") + 2, F.size("_ids"))
            ).alias(d2),
        )
        .filter(F.col(d1) < F.col(d2))
    )


def jaccard_pairs(
    sh: DataFrame,
    threshold: float,
    candidates: DataFrame | None = None,
    max_shingle_df: int | None = None,
    counts: DataFrame | None = None,
    materialize: bool | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over document pairs.

    ``sh``: (id, sh) distinct shingles. If ``candidates`` (d1 < d2) is
    given, only verify those pairs (the LSH path); otherwise generate
    pairs per shingle bucket with :func:`bucket_pairs` (exact path).
    ``max_shingle_df`` drops shingles occurring in more than that many
    docs — the skew cap.
    ``counts`` (id, n) can be supplied when the caller already computed
    per-doc shingle counts (minhash_signature emits them) — saves one
    recomputation of the shingle subtree. Output: (d1, d2, jaccard)
    with jaccard >= threshold.
    """
    if max_shingle_df is not None:
        keep = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("sh")
        )
        sh = sh.join(keep, "sh", "left_semi")
        counts = None  # the cap changes per-doc counts; recompute

    # sh feeds up to THREE branches (counts + both self-join sides) —
    # cut lineage once so the tokenize/explode subtree isn't evaluated
    # per branch. Default: materialize on the exact path only; the LSH
    # path's callers already checkpointed sh before banding, and a
    # second checkpoint would re-copy the data. ``materialize`` forces
    # either way (False when the caller checkpointed sh itself).
    if materialize is None:
        materialize = candidates is None
    if materialize:
        sh = sh.localCheckpoint(eager=True)

    if counts is None:
        counts = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))

    if candidates is not None:
        # LSH path: restrict BOTH shingle sides to docs that appear in a
        # candidate pair before the self-join — the intersection is only
        # computed for the (tiny) candidate set, never all-pairs. This is
        # what keeps verification sub-quadratic at scale.
        a = sh.select(F.col("id").alias("d1"), "sh").join(
            candidates.select("d1").distinct(), "d1", "left_semi"
        )
        b = sh.select(F.col("id").alias("d2"), "sh").join(
            candidates.select("d2").distinct(), "d2", "left_semi"
        )
        common = (
            a.join(b, "sh")
            .filter(F.col("d1") < F.col("d2"))
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("c"))
            .join(candidates, ["d1", "d2"], "left_semi")
        )
    else:
        # Exact path: per-shingle in-array pair explode — one exchange
        # of the shingle table instead of the self-join's two (§2.3).
        common = (
            bucket_pairs(sh, ["sh"], "id")
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    n1 = counts.select(F.col("id").alias("d1"), F.col("n").alias("n1"))
    n2 = counts.select(F.col("id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("c") / (F.col("n1") + F.col("n2") - F.col("c"))
    return (
        common.join(n1, "d1")
        .join(n2, "d2")
        .select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signature(
    sh: DataFrame, n_hashes: int = DEFAULT_MINHASHES
) -> DataFrame:
    """MinHash signature per doc: h_i = MIN(md5('<i>|' || shingle)).

    md5-as-string keeps the signature identical across engines; min of
    a uniformly-distributed hex string is a valid minhash. Output:
    (id, h0..h{n-1}, n) — one groupBy over the shingle set; ``n`` (the
    per-doc shingle count) rides along for free so the verification
    stage doesn't recompute the shingle subtree for it."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("sh")))).alias(f"h{i}")
        for i in range(n_hashes)
    ] + [F.count(F.lit(1)).alias("n")]
    return sh.groupBy("id").agg(*aggs)


def lsh_band_keys(
    sig: DataFrame,
    n_hashes: int = DEFAULT_MINHASHES,
    bands: int = DEFAULT_BANDS,
    id_out: str = "id",
) -> DataFrame:
    """(id, band, key) rows — one per (doc, band). One posexplode pass
    instead of a union of per-band branches: same rows, but the
    signature subtree is scanned once and the plan stays a single
    narrow chain."""
    rows_per_band = n_hashes // bands
    band_keys = F.array(
        *[
            F.concat(
                *[
                    F.col(f"h{b * rows_per_band + r}")
                    for r in range(rows_per_band)
                ]
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        F.col("id").alias(id_out), F.posexplode(band_keys).alias("band", "key")
    )


def lsh_bucket_audit(
    sig: DataFrame,
    max_bucket_size: int,
    n_hashes: int = DEFAULT_MINHASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """The band buckets the ``max_bucket_size`` cap would spill:
    (band, key, n_ids) for every bucket larger than the cap. A
    production run logs/persists this as the audit trail for capped
    candidates — a huge bucket means thousands of near-identical
    documents, which exact dedup on content hash already collapses
    far more cheaply than m²/2 pair verification would."""
    return (
        lsh_band_keys(sig, n_hashes, bands)
        .groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n_ids"))
        .filter(F.col("n_ids") > max_bucket_size)
    )


def lsh_candidates(
    sig: DataFrame,
    n_hashes: int = DEFAULT_MINHASHES,
    bands: int = DEFAULT_BANDS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded LSH: docs sharing any band key become candidate pairs.

    Each band key is the concat of rows_per_band signature columns; the
    join is an equi-join on (band, key) — this is what keeps near-dup
    detection sub-quadratic at 100 TB. ``max_bucket_size`` guards the
    degenerate corpus (mass-identical boilerplate): a band bucket of m
    ids emits m²/2 pairs, so one 1M-doc bucket alone is 5·10¹¹ pairs.
    Buckets above the cap are excluded here (recoverable via
    :func:`lsh_bucket_audit`); their members are exact duplicates of
    each other with overwhelming probability, which the cheap
    content-hash pass catches. Output: distinct (d1, d2), d1<d2.
    """
    all_bands = lsh_band_keys(sig, n_hashes, bands)
    if max_bucket_size is not None:
        ok = (
            all_bands.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .filter(F.col("_bsz") <= max_bucket_size)
            .select("band", "key")
        )
        all_bands = all_bands.join(ok, ["band", "key"], "left_semi")
    # Per-bucket in-array pair explode — one exchange of the band-key
    # table instead of the self-join's two (§2.3); the bucket-size cap
    # above still bounds the per-bucket m(m-1)/2 expansion.
    return bucket_pairs(all_bands, ["band", "key"], "id").distinct()


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.4,
    n: int = DEFAULT_SHINGLE,
    n_hashes: int = DEFAULT_MINHASHES,
    bands: int = DEFAULT_BANDS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → banded
    candidates → exact-Jaccard verification. Output: (d1, d2, jaccard).

    The shingle and signature frames are each consumed by TWO branches
    of the DAG (sh → signature + verification; sig → banding + counts),
    so both get an eager lineage cut — without it every branch re-runs
    the tokenize/explode/groupBy subtree, which round 3 measured as
    ~half the query's cost (same rule as operators/graph.py:62)."""
    sh = shingles(df, id_col, text_col, n).localCheckpoint(eager=True)
    sig = minhash_signature(sh, n_hashes).localCheckpoint(eager=True)
    # cand feeds THREE consumers in the verification join (both
    # per-side semi-join prunes + the final pair semi-join) — uncut,
    # the banding subtree runs three times; the pair list is the
    # smallest frame in the pipeline, so the cut is cheap at any scale
    cand = lsh_candidates(
        sig, n_hashes, bands, max_bucket_size
    ).localCheckpoint(eager=True)
    return jaccard_pairs(
        sh, threshold, candidates=cand, counts=sig.select("id", "n")
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """SimHash fingerprint: per token, md5 hex; bit p is the high bit of
    hex digit p (digit >= '8'). Sign-sum over tokens (with repetition —
    frequency-weighted), fingerprint bit = sum >= 0. Output:
    (id, simhash) where simhash is a {bits}-char bitstring."""
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("t")
    ).withColumn("h", F.md5(F.col("t")))
    bit_sums = [
        F.sum(
            F.when(F.substring("h", p + 1, 1) >= "8", 1).otherwise(-1)
        ).alias(f"b{p}")
        for p in range(bits)
    ]
    summed = tok.groupBy("id").agg(*bit_sums)
    fp = F.concat(
        *[
            F.when(F.col(f"b{p}") >= 0, F.lit("1")).otherwise(F.lit("0"))
            for p in range(bits)
        ]
    )
    return summed.select("id", fp.alias("simhash"))


def contamination(
    docs: DataFrame,
    bench_mod: int = 19,
    n: int = DEFAULT_SHINGLE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination by exact n-gram overlap: for every
    training document, count how many of its distinct n-grams appear
    anywhere in the benchmark set (docs with id % bench_mod == 0 stand
    in for the eval benchmark here). Non-zero rows are contamination
    candidates to drop or audit before training.

    Scale shape: the benchmark's distinct-gram set is the small side of
    one equi-join on the gram (broadcast at any realistic benchmark
    size); the training side streams through map-side. Production runs
    use n = 8-13 exact substring grams (GPT-3/C4 practice); the tiny
    synthetic vocabulary here needs n = 3 for the overlap structure to
    be non-degenerate.
    """
    sh = shingles(docs, id_col=id_col, text_col=text_col, n=n)
    bench = (
        sh.filter(F.col("id") % bench_mod == 0)
        .select("sh")
        .distinct()
    )
    train = sh.filter(F.col("id") % bench_mod != 0)
    return (
        train.join(F.broadcast(bench), "sh")
        .groupBy(F.col("id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def containment_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """N-gram CONTAINMENT: |A∩B| / min(|A|,|B|) — catches a document
    embedded inside a larger one (quotes, concatenations, page wraps),
    which Jaccard misses because the union term dilutes asymmetric
    overlap. Same shuffle shape as :func:`jaccard_pairs` (per-shingle
    bucket pairs, then one keyed aggregate); at scale the candidate set
    would come from LSH exactly as the Jaccard path does.
    Output: (d1, d2, containment) with containment >= threshold.
    """
    # sh feeds counts + the pair-explode branch — same lineage cut as
    # the exact jaccard path
    sh = sh.localCheckpoint(eager=True)
    counts = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    # per-shingle in-array pair explode — one exchange, not a two-sided
    # self-join shuffle (§2.3); see bucket_pairs
    common = (
        bucket_pairs(sh, ["sh"], "id")
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n1 = counts.select(F.col("id").alias("d1"), F.col("n").alias("n1"))
    n2 = counts.select(F.col("id").alias("d2"), F.col("n").alias("n2"))
    cont = F.col("c") / F.least("n1", "n2")
    return (
        common.join(n1, "d1")
        .join(n2, "d2")
        .filter(cont >= threshold)
        .select("d1", "d2", cont.alias("containment"))
    )


def lsh_candidates_between(
    sig_new: DataFrame,
    sig_old: DataFrame,
    n_hashes: int = DEFAULT_MINHASHES,
    bands: int = DEFAULT_BANDS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Asymmetric banded LSH: candidates between an INCOMING batch and
    the EXISTING corpus only — the daily-ingest dedup shape. The
    corpus side's band keys are an index that persists across ingests
    (here recomputed; a deployment stores them partitioned by band
    key), and the join is new×old on (band, key) — old×old pairs are
    never generated, so ingest cost scales with the batch, not the
    corpus. ``max_bucket_size`` caps the CORPUS side of each band
    bucket (the side that can be degenerate at scale); capped buckets
    are recoverable via :func:`lsh_bucket_audit` on ``sig_old``.
    Output: distinct (d1=old id, d2=new id).
    """
    new_b = lsh_band_keys(sig_new, n_hashes, bands, id_out="d2")
    old_b = lsh_band_keys(sig_old, n_hashes, bands, id_out="d1")
    if max_bucket_size is not None:
        ok = (
            old_b.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .filter(F.col("_bsz") <= max_bucket_size)
            .select("band", "key")
        )
        old_b = old_b.join(ok, ["band", "key"], "left_semi")
    return (
        old_b.join(new_b, ["band", "key"])
        .select("d1", "d2")
        .distinct()
    )
