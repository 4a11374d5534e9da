"""Similarity search over embedding columns (array<float>).

Two paths:

- ``cosine_topk`` — brute-force cosine top-k: exact, O(|Q|·|N|) dot
  products, the correctness baseline. All math happens JVM-side via
  ``zip_with``/``aggregate`` higher-order functions on array columns —
  no Python, no explode, one row per (query, candidate).

- ``ivf_topk`` — IVF-style bucketed search: assign each query to its
  nearest partition centroid, then search only that bucket. At 100 TB
  this is the scale path — the candidate scan drops by the bucket
  fan-out factor and the centroid table is broadcast-sized. Buckets
  here come from the ``label`` column (a real pipeline would train
  k-means; the plan shape is identical).

Floats are cast to double before any arithmetic so results are stable
and match the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .dedup import bucket_pairs


def as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
    ))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries``: (query_id, qvec). The query side is broadcast —
    candidates stream through one projection + one top-k window.
    Output: (query_id, vec_id, cos, rnk).
    """
    cand = emb.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    )
    q = queries.select(
        F.col("query_id"), as_double(F.col("qvec")).alias("_q")
    )
    scored = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        # round before ranking so ulp-level engine drift can't flip ranks;
        # ties break on vec_id.
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col("_q"), F.col("_v")), 9).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", id_col, "cos", "rnk")
    )


def cosine_topk_numpy(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vectorized brute-force cosine top-k via ``mapInPandas``.

    The realistic scale path for dense similarity: the (small) query
    matrix ships to every partition inside the closure; each Arrow
    batch of candidates becomes one numpy ``Q @ C.T`` matrix multiply —
    BLAS throughput instead of per-element JVM expression evaluation.
    Partial top-k per partition, then a global window finishes the
    merge (k·n_queries rows per partition cross the shuffle, never the
    full score matrix).

    Numerically identical ranking to :func:`cosine_topk` (both round
    cosines to 9 decimals before ranking, ties on id) — the two paths
    are pinned to each other in tests.
    """
    import numpy as np
    import pandas as pd

    qrows = queries.select("query_id", as_double(F.col("qvec")).alias("q")).collect()
    qids = np.array([r["query_id"] for r in qrows])
    qm = np.array([r["q"] for r in qrows], dtype=np.float64)
    qm_norm = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    def score(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            cm = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cm_n = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            cos = np.round(qm_norm @ cm_n.T, 9)  # (n_q, batch)
            cids = pdf[id_col].to_numpy()
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qids, len(cids)),
                    id_col: np.tile(cids, len(qids)),
                    "cos": cos.ravel(),
                }
            )
            out = out[out["query_id"] != out[id_col]]
            # partial top-k per batch bounds shuffle volume
            out = (
                out.sort_values(["query_id", "cos", id_col],
                                ascending=[True, False, True])
                .groupby("query_id", sort=False)
                .head(k)
            )
            yield out

    partial = emb.select(id_col, vec_col).mapInPandas(
        score, schema=f"query_id long, {id_col} long, cos double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", id_col, "cos", "rnk")
    )


def embedding_positions(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Long form (id, pos, val:double) — the representation centroid
    math runs on."""
    return emb.select(
        F.col(id_col), F.posexplode(as_double(F.col(vec_col)))
    ).toDF(id_col, "pos", "val")


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    nprobe: int = 1,
    filter_cond=None,
) -> DataFrame:
    """IVF-bucketed ANN: nearest-centroid probe, then exact cosine
    within the probed bucket(s) only.

    ``nprobe`` is the standard recall/cost knob: searching the top-n
    nearest buckets multiplies the candidate scan by ~n while closing
    the boundary-miss recall gap (a vector near a Voronoi edge lives
    in one bucket but neighbours another). Output: (query_id, vec_id,
    cos, rnk). Centroids (n_buckets × dim) are broadcast-sized at any
    realistic bucket count.
    """
    pos = embedding_positions(emb, id_col, vec_col)
    buckets = emb.select(F.col(id_col), F.col(bucket_col).alias("bucket"))
    cpos = (
        pos.join(buckets, id_col)
        .groupBy("bucket", "pos")
        .agg(F.avg("val").alias("cval"))
    )
    qpos = queries.select(
        "query_id", F.posexplode(as_double(F.col("qvec")))
    ).toDF("query_id", "pos", "qval")

    # query ↔ centroid cosine from the long form: one join on pos.
    qc = (
        qpos.join(F.broadcast(cpos), "pos")
        .groupBy("query_id", "bucket")
        .agg(
            F.sum(F.col("qval") * F.col("cval")).alias("_dot"),
            F.sqrt(F.sum(F.col("qval") * F.col("qval"))).alias("_qn"),
            F.sqrt(F.sum(F.col("cval") * F.col("cval"))).alias("_cn"),
        )
        .select(
            "query_id",
            "bucket",
            F.round(F.col("_dot") / (F.col("_qn") * F.col("_cn")), 9).alias("ccos"),
        )
    )
    wq = W.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("bucket"))
    probe = (
        qc.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "bucket")
    )

    # exact cosine within the probed bucket. ``filter_cond`` is the
    # FILTERED vector-search path (metadata predicate AND nearest-k):
    # pre-filtering — the predicate restricts the candidate scan
    # before scoring, so cost tracks the filtered set, while the
    # centroid probe stays global (selectivity doesn't move Voronoi
    # cells). The standard caveat applies and is the caller's knob:
    # under very selective filters raise nprobe, since the k nearest
    # FILTERED vectors may live outside the top-1 bucket.
    if filter_cond is not None:
        emb = emb.filter(filter_cond)
    cand = emb.select(
        F.col(id_col),
        F.col(bucket_col).alias("bucket"),
        as_double(F.col(vec_col)).alias("_v"),
    )
    q = queries.select("query_id", as_double(F.col("qvec")).alias("_q"))
    scored = (
        cand.join(F.broadcast(probe), "bucket")
        .join(F.broadcast(q), "query_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col("_q"), F.col("_v")), 9).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", id_col, "cos", "rnk")
    )


def _signlsh_bands(
    emb: DataFrame,
    n_bands: int,
    rows_per_band: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Random-hyperplane (sign) LSH band keys: (id, band, key).

    One Arrow-batched numpy pass — each batch is a single ``V @ H``
    BLAS matrix multiply against a deterministic seeded hyperplane
    matrix, then sign bits pack into one integer key per band. Linear
    in the table, no shuffle; the hyperplanes regenerate identically
    inside every task from the seed (nothing is broadcast).
    """
    import numpy as np
    import pandas as pd

    total_bits = n_bands * rows_per_band

    def sig(pdfs):
        rng_h = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if rng_h is None:
                rng = np.random.default_rng(seed)
                rng_h = rng.standard_normal((v.shape[1], total_bits))
            bits = (v @ rng_h) > 0  # (n, total_bits)
            weights = 1 << np.arange(rows_per_band, dtype=np.int64)
            ids = pdf[id_col].to_numpy()
            out = []
            for b in range(n_bands):
                chunk = bits[:, b * rows_per_band : (b + 1) * rows_per_band]
                keys = chunk.astype(np.int64) @ weights  # pack bits → int key
                out.append(
                    pd.DataFrame({id_col: ids, "band": b, "key": keys})
                )
            yield pd.concat(out, ignore_index=True)

    return emb.select(id_col, vec_col).mapInPandas(
        sig, schema=f"{id_col} long, band int, key long"
    )


def lsh_params(
    n: int, threshold: float, target_miss: float = 1e-4, cand_per_vec: float = 4.0
) -> tuple[int, int]:
    """Sign-LSH (rows_per_band, n_bands) sized to the table.

    Expected random (unrelated-pair) candidates across ALL bands is
    (n²/2)·n_bands/2^b, and the band count needed for a miss
    probability < ``target_miss`` at the threshold is itself a
    function of b (n_bands ≈ ln(1/miss)/p^b, per-bit collision
    p = 1 − arccos(t)/π). Solving random_candidates ≤ cand_per_vec·n
    for b gives (2p)^b ≥ n·ln(1/miss)/(2·cand_per_vec) — each extra
    bit cuts random candidates by 2p (~1.8×) while costing only 1/p
    (~1.11×) more bands, so bits grow with log_{2p}(n) and the
    candidate set stays LINEAR in n by construction. (The round-2
    formula targeted a fixed per-bucket occupancy and ignored the
    band multiplier: at n=2008/t=0.95 it picked 8×17 → 148k random
    candidates, 7% of all-pairs; this one picks 14×37 → ~4.5k.
    Measured in SCALE.md.) Bands then pin the at-threshold miss:
    miss = (1−p^b)^n_bands < target_miss; near-identical dups
    (p→1) are missed far more rarely.
    """
    import math

    p = 1 - math.acos(threshold) / math.pi
    need = max(2.0, n * math.log(1 / target_miss) / (2 * cand_per_vec))
    b = math.ceil(math.log(need) / math.log(2 * p))
    b = min(max(b, 8), 32)  # int64 band keys; 8-bit floor for tiny n
    band_match = p**b
    n_bands = max(8, math.ceil(math.log(target_miss) / math.log(1 - band_match)))
    return b, n_bands


def embedding_near_dups_lsh(
    emb: DataFrame,
    threshold: float = 0.95,
    n_bands: int | None = None,
    rows_per_band: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> DataFrame:
    """Bucketed embedding near-duplicates — the 100 TB path.

    Candidate pairs come from sign-LSH band collisions (equi-joins on
    (band, key) — the all-pairs space never materializes), then each
    candidate is verified with an exact JVM-side cosine. Band geometry
    auto-sizes to the table by default (:func:`lsh_params`): bits per
    band grow with log2(n) so random-collision volume stays linear,
    and the band count is chosen so a true pair AT the threshold is
    missed with p < 1e-4 (near-identical dups miss far more rarely);
    pass explicit ``rows_per_band``/``n_bands`` to pin a geometry.
    Verification is exact, so precision is always 1.0 vs the
    brute-force baseline (:func:`embedding_near_dups`), which pytest
    pins on planted duplicates. Measured probe in SCALE.md: full
    planted-dup recall with 0.15-0.5 ms/vector at 20k-51k vectors once
    bands are sized; fixed 8-bit bands degrade to ~3 ms/vector at 51k.

    Scale shape: one linear signature pass (Arrow/BLAS), one
    self-equi-join on band keys, one distinct, two candidate-restricted
    joins to fetch vectors. Every shuffle is keyed; no crossJoin, no
    BNLJ.
    """
    if rows_per_band is None:
        # size the bands to the table (SCALE.md probe: fixed-width
        # bands go quadratic once buckets fill). ``n`` lets the caller
        # supply the row count from catalog/footer statistics so no
        # sizing job runs; the count() is the fallback.
        rows_per_band, auto_nb = lsh_params(
            emb.count() if n is None else n, threshold
        )
        if n_bands is None:
            n_bands = auto_nb
    elif n_bands is None:
        # the band count must be derived FROM the given band width —
        # wider bands collide less per band, so they need more bands
        # for the same miss probability.
        import math

        p = 1 - math.acos(threshold) / math.pi
        n_bands = max(
            8, math.ceil(math.log(1e-4) / math.log(1 - p**rows_per_band))
        )
    sigs = _signlsh_bands(
        emb, n_bands, rows_per_band, seed, id_col, vec_col
    )
    # Bucket-grouped pair expansion instead of a sig⋈sig self-join: the
    # signature pass (the dominant linear cost at scale) is a single
    # plan branch computed ONCE, one shuffle on (band, key), and pairs
    # fan out where they live (see dedup.bucket_pairs). A hot bucket of
    # m ids inherently yields m·(m−1)/2 candidates under any LSH
    # formulation; here it also needs m ids resident per group, which
    # is fine until m ~ 10^6 (far beyond any sane band width).
    cand = bucket_pairs(
        sigs, ["band", "key"], id_col, d1="v1", d2="v2"
    ).dropDuplicates()
    a = emb.select(
        F.col(id_col).alias("v1"), as_double(F.col(vec_col)).alias("_a")
    )
    b = emb.select(
        F.col(id_col).alias("v2"), as_double(F.col(vec_col)).alias("_b")
    )
    return (
        cand.join(a, "v1")
        .join(b, "v2")
        .select(
            "v1",
            "v2",
            F.round(cosine(F.col("_a"), F.col("_b")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine near-duplicates (v1 < v2, cos >= threshold).
    Brute force is the correctness baseline and test oracle; the
    canonical scale path is :func:`embedding_near_dups_lsh`."""
    a = emb.select(
        F.col(id_col).alias("v1"), as_double(F.col(vec_col)).alias("_a")
    )
    b = emb.select(
        F.col(id_col).alias("v2"), as_double(F.col(vec_col)).alias("_b")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("v1") < F.col("v2"))
        .select(
            "v1",
            "v2",
            F.round(cosine(F.col("_a"), F.col("_b")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def quantize_embeddings(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 quantization: per-vector scale = max|x|/127,
    q_i = floor(x_i/scale + 0.5) ∈ [-127, 127].

    At 100 TB of embeddings this is the storage/shuffle lever: int8
    vectors move 4× fewer bytes than float32 (8× vs float64) through
    every exchange, and the dequantized value q·scale is within
    scale/2 of the original — enough for candidate generation, with
    exact re-scoring on the float column for the survivors. All JVM
    higher-order expressions; ``floor(x + 0.5)`` is used instead of
    ``round`` so ties break identically in every engine (round()
    half-even vs half-up varies; floor does not).
    """
    # vector and scale are selected into columns before the per-element
    # lambdas read them: an expression referenced inside an (interpreted)
    # lambda is recomputed per element, which made the scale O(d²)
    v = F.col("_v")
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.col("scale")
    q = F.when(scale == 0, F.transform(v, lambda x: F.lit(0).cast("long"))).otherwise(
        F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("long"))
    )
    return (
        emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
        .select(id_col, "_v", (absmax / F.lit(127.0)).alias("scale"))
        .select(id_col, "scale", q.alias("qvec"))
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) — compressed-index ANN.
# --------------------------------------------------------------------------

def l2sq(a: Column, b: Column) -> Column:
    """Squared euclidean distance via inner products —
    ⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩. This exact expression form is mirrored in
    the DuckDB oracle (list_inner_product) so both engines sum the
    same three terms; callers round before comparing/ranking."""
    return dot(a, a) - 2 * dot(a, b) + dot(b, b)


def pq_subvectors(
    emb: DataFrame,
    m: int,
    dsub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Long-form subvector split: one row per (id, subspace).

    ``posexplode`` over the transform-sliced array — pure JVM array
    ops, no Python. Output: (id, sub, sv) with ``sub`` ∈ [0, m).
    """
    # cast the vector once, not once per subspace inside the lambda
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda i: F.slice(F.col("_v"), i * dsub + 1, dsub),
    )
    return emb.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    ).select(id_col, F.posexplode(subs).alias("sub", "sv"))


def pq_codebook(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    dsub: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic PQ codebook: the subvectors of the ``k``
    smallest-id vectors seed one centroid set per subspace.

    A production pipeline would Lloyd-iterate each subspace
    (datapipe/kmeans.py is exactly that trainer); the seed-sample
    codebook keeps encode/ADC math bit-reproducible across engines so
    the driver oracle can hash-compare the full PQ pipeline — the
    plan shape (broadcast-sized codebook, everything downstream
    equi-joins) is identical either way. Output: (sub, code, cent),
    m·k rows — broadcast-sized by construction (k ≤ 256 keeps codes
    one byte wide, the whole point of PQ).
    """
    # Seed from the k SMALLEST ids, not `id < k`: a corpus whose id
    # space starts above k would otherwise yield an empty codebook and
    # every downstream PQ query would return empty silently. The
    # TakeOrderedAndProject limit is scale-safe (per-partition top-k,
    # no global sort), and for a dense 0-based id space the assigned
    # codes equal the ids, so existing oracles are unchanged.
    seed = emb.orderBy(id_col).limit(k)  # TakeOrderedAndProject, k rows
    if dsub is None:
        dsub = _dsub(emb, m, vec_col)
    code = (
        F.row_number().over(W.partitionBy("sub").orderBy(id_col)) - 1
    ).alias("code")
    codebook = (
        pq_subvectors(seed, m, dsub, id_col, vec_col)
        .select("sub", code, F.col("sv").alias("cent"))
        # tiny (m·k rows) and consumed by ≥2 broadcast joins downstream
        .localCheckpoint(eager=True)
    )
    n = codebook.count()
    if n != m * k:  # data-dependent: must survive ``python -O``
        raise ValueError(
            f"PQ codebook has {n} rows, expected m*k={m * k} — the "
            f"corpus has fewer than k={k} vectors or duplicate ids"
        )
    return codebook


def _dsub(emb: DataFrame, m: int, vec_col: str) -> int:
    dim = len(emb.select(vec_col).first()[0])
    if dim % m != 0:  # data-dependent: must survive ``python -O``
        raise ValueError(f"dim {dim} not divisible by m {m}")
    return dim // m


def pq_encode(
    emb: DataFrame,
    codebook: DataFrame,
    m: int,
    dsub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to one code per subspace (nearest centroid
    by squared L2, rounded 6 dp before the argmin, code as tiebreak).

    Scale shape: the corpus explodes to n·m subvector rows ONCE, the
    codebook joins broadcast (m·k rows), and the argmin is a keyed
    aggregate with map-side combine (``min_by`` over a (d2, code)
    struct). No all-pairs, no Python. Output: (id, sub, code) — the
    compressed index, ~1 byte per (row, subspace) at rest.
    """
    sub = pq_subvectors(emb, m, dsub, id_col, vec_col)
    d2 = F.round(l2sq(F.col("sv"), F.col("cent")), 6).alias("d2")
    return (
        sub.join(F.broadcast(codebook), "sub")
        .select(F.col(id_col), "sub", "code", d2)
        .groupBy(id_col, "sub")
        .agg(F.min_by("code", F.struct("d2", "code")).alias("code"))
    )


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    k: int = 10,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ top-k via asymmetric distance computation (ADC).

    The compressed-index scale path: at 100 TB of float32 embeddings,
    PQ codes are ~32× smaller — the candidate scan reads CODES, not
    vectors, and each query precomputes an m·k lookup table of
    query-subvector→centroid distances. The scored join is
    codes ⋈ broadcast(LUT) on (sub, code) followed by a keyed SUM —
    one shuffle keyed by (query, id), map-side combinable. Exact
    re-ranking of the ADC survivors against the float column is the
    standard second stage (exercised in tests; the registered query
    exposes the raw ADC ranking, which is what the oracle can
    reproduce bit-for-bit).

    Output: (query_id, vec_id, adc, rnk) — k nearest by ADC distance
    (rounded 4 dp; ties by vec_id), self-matches excluded.
    """
    # ``dim`` from catalog/schema statistics skips the one-row probe
    # job (same contract as embedding_near_dups_lsh's ``n``).
    if dim is not None and dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m if dim is not None else _dsub(emb, m, vec_col)
    cb = pq_codebook(emb, m, k_codes, dsub, id_col, vec_col)
    codes = pq_encode(emb, cb, m, dsub, id_col, vec_col)
    qsub = pq_subvectors(
        queries.select(
            F.col("query_id").alias(id_col), F.col("qvec").alias(vec_col)
        ),
        m,
        dsub,
        id_col,
        vec_col,
    ).select(F.col(id_col).alias("query_id"), "sub", F.col("sv").alias("qv"))
    lut = qsub.join(F.broadcast(cb), "sub").select(
        "query_id",
        "sub",
        "code",
        F.round(l2sq(F.col("qv"), F.col("cent")), 6).alias("qd2"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("qd2"), 4).alias("adc"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col(id_col))
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", id_col, "adc", "rnk")
    )


def mmr_rerank(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversity re-ranking (Carbonell &
    Goldstein, SIGIR'98) with lambda = 0.5: greedily pick, from a
    per-query candidate pool of the top ``pool`` by cosine, the item
    maximizing relevance minus its max similarity to the already-
    selected set — the standard RAG retrieval step that stops k
    near-duplicate chunks from crowding out coverage.

    Scale shape: the pool is bounded per query (top-``pool`` via one
    broadcast-scored window), pairwise similarities are a keyed
    self-join of that bounded pool (pool^2 rows per query, metadata-
    sized), and the inherently sequential greedy runs PER QUERY inside
    one ``applyInPandas`` group — distributed across queries, never a
    driver loop. Selection arithmetic is exact integer e9 (cosines
    rounded at 1e-9 then scaled to BIGINT, the repo's cross-engine-
    stable idiom), so an unrolled SQL greedy in DuckDB reproduces the
    ranking bit-for-bit.

    Output: (query_id, vec_id, mmr_rank 1..k).
    """
    import pandas as pd

    cands = cosine_topk(
        emb, queries, k=pool, id_col=id_col, vec_col=vec_col
    )
    rel = cands.select(
        "query_id",
        F.col(id_col).alias("a"),
        F.round(F.col("cos") * 1e9).cast("long").alias("rel_e9"),
    )
    vecs = emb.select(
        F.col(id_col).alias("_vid"), as_double(F.col(vec_col)).alias("_v")
    )
    a_side = rel.join(
        vecs.select(
            F.col("_vid").alias("a"), F.col("_v").alias("_va")
        ),
        "a",
    )
    b_side = rel.select(
        "query_id", F.col("a").alias("b")
    ).join(
        vecs.select(
            F.col("_vid").alias("b"), F.col("_v").alias("_vb")
        ),
        "b",
    )
    pairs = (
        a_side.join(b_side, "query_id")
        .filter(F.col("a") != F.col("b"))
        .select(
            "query_id",
            "a",
            "rel_e9",
            "b",
            F.round(F.round(cosine(F.col("_va"), F.col("_vb")), 9) * 1e9)
            .cast("long")
            .alias("sim_e9"),
        )
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["query_id"].iloc[0]
        rel_of = {}
        sim_of = {}
        for r in pdf.itertuples(index=False):
            rel_of[int(r.a)] = int(r.rel_e9)
            sim_of[(int(r.a), int(r.b))] = int(r.sim_e9)
        remaining = sorted(rel_of)
        chosen: list[int] = []
        out = []
        for step in range(1, k + 1):
            if not remaining:
                break
            if chosen:
                best = max(
                    remaining,
                    key=lambda v: (
                        rel_of[v]
                        - max(sim_of[(v, s)] for s in chosen),
                        -v,
                    ),
                )
            else:
                best = max(remaining, key=lambda v: (rel_of[v], -v))
            chosen.append(best)
            remaining.remove(best)
            out.append((qid, best, step))
        return pd.DataFrame(
            out, columns=["query_id", "vec_id", "mmr_rank"]
        )

    return pairs.groupBy("query_id").applyInPandas(
        _greedy, "query_id long, vec_id long, mmr_rank int"
    )


# -- PCA whitening ----------------------------------------------------------
#
# Embedding whitening (ZCA/PCA) is the standard preprocessing step
# before ANN indexing and near-dup cosine (Jegou et al., "Negative
# evidences and co-occurrences"): decorrelate dimensions and equalize
# variance so inner products aren't dominated by a few hot directions.
# The scale shape is the classic two-phase pattern:
#
#   1. a DISTRIBUTED partial-Gram pass — each Arrow batch reduces to
#      (n, sum(d), gram(d*d)) via numpy, so the only data that ever
#      crosses to the driver is p x (1 + d + d^2) float64s (p = number
#      of batches). At 100 TB with d=64 that is a few KB per task —
#      the corpus never shuffles at all;
#   2. a d x d eigendecomposition ON THE DRIVER (numpy.linalg.eigh on
#      a 64x64 symmetric matrix — microseconds), whose loadings ship
#      back inside the projection closure like any broadcast model.
#
# The projection itself is one Arrow-batched matrix multiply per
# batch: Y = (X - mu) @ W with W = V_k diag(1/sqrt(lambda_k)).


def gram_partials(emb: DataFrame, vec_col: str = "v") -> DataFrame:
    """Per-batch partial moments: one row (n, s[d], g[d*d]) per Arrow
    batch. Map-side only — no shuffle; callers sum the partials."""
    import pandas as pd  # noqa: F401

    def _f(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            X = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()],
                }
            )

    return emb.mapInPandas(
        _f, "n long, s array<double>, g array<double>"
    )


def covariance_from_partials(parts: list) -> tuple:
    """(n, mean, covariance) assembled from collected gram partials —
    driver-side metadata-plane math on p tiny rows."""
    import numpy as np

    if not parts:
        raise ValueError("covariance_from_partials: no partials (empty input)")
    n = int(sum(r["n"] for r in parts))
    if n < 2:
        raise ValueError(
            f"covariance_from_partials: need n >= 2 rows for the unbiased "
            f"covariance, got n={n}"
        )
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    g = np.sum([np.asarray(r["g"]) for r in parts], axis=0)
    d = len(s)
    mu = s / n
    cov = (g.reshape(d, d) - n * np.outer(mu, mu)) / (n - 1)
    return n, mu, cov


def pca_whiten_model(cov, eps_ratio: float = 1e-10) -> tuple:
    """Eigendecompose the covariance and build the whitening matrix
    W = V_k diag(1/sqrt(lambda_k)) over components with
    lambda > eps_ratio * lambda_max (rank guard). Returns
    (eigvals_desc, V_desc, W)."""
    import numpy as np

    lam, V = np.linalg.eigh(cov)  # ascending
    lam, V = lam[::-1], V[:, ::-1]  # descending
    if lam[0] <= 0:
        raise ValueError(
            "pca_whiten_model: largest eigenvalue is non-positive "
            f"({lam[0]!r}) — embeddings are constant/degenerate, no "
            "whitening direction exists"
        )
    keep = lam > eps_ratio * lam[0]
    lam_k, V_k = lam[keep], V[:, keep]
    W = V_k / np.sqrt(lam_k)[None, :]
    return lam, V, W


def project_whiten(
    emb: DataFrame,
    mu,
    W,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Y = (X - mu) @ W, one Arrow-batched matmul per batch. mu/W ride
    in the closure (d and d x k float64s — broadcast-sized)."""
    mu_l, W_l = list(map(float, mu)), [[float(x) for x in row] for row in W]

    def _f(it):
        import numpy as np
        import pandas as pd

        m = np.asarray(mu_l)
        w = np.asarray(W_l)
        for pdf in it:
            if not len(pdf):
                continue
            X = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            Y = (X - m) @ w
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, "y": list(map(list, Y))}
            )

    return emb.mapInPandas(_f, f"{id_col} long, y array<double>")


def nearest_centroid_buckets(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    bucket_col: str = "label",
) -> DataFrame:
    """One Lloyd ASSIGNMENT step under the IVF probe metric: recompute
    each bucket's mean vector and reassign every vector to its
    COSINE-nearest centroid — the same rule ``ivf_topk`` probes with,
    so the rebuilt index is Voronoi-consistent with the search. This
    is how an IVF index is refreshed after a projection
    (``project_whiten``) moves the corpus to a new space: centroids
    seeded from the existing buckets, assignment redone in the space
    that will actually be searched. Returns (id_col, bucket_col).

    Scale: the centroid aggregate shuffles k x dim rows (broadcast-
    sized); the reassignment is a broadcast cross join reduced in-task
    by the argmax struct-min — one pass over the corpus, no
    corpus-scale shuffle (cf. datapipe/kmeans.py, same shape under
    squared-L2).
    """
    pos = emb.select(
        F.col(bucket_col).alias("_b"), F.posexplode(F.col(vec_col))
    ).toDF("_b", "pos", "val")
    cvec = (
        pos.groupBy("_b", "pos")
        .agg(F.avg("val").alias("cval"))
        .groupBy("_b")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"],
            ).alias("cv")
        )
    )
    scored = emb.select(id_col, vec_col).crossJoin(F.broadcast(cvec)).select(
        id_col,
        F.struct(
            # negate: struct-min == cosine argmax; round first so
            # ulp drift can't flip an assignment, _b breaks ties
            (-F.round(cosine(F.col(vec_col), F.col("cv")), 9)).alias("nc"),
            F.col("_b").alias("b"),
        ).alias("_s"),
    )
    return (
        scored.groupBy(id_col)
        .agg(F.min("_s").alias("_s"))
        .select(id_col, F.col("_s.b").alias(bucket_col))
    )
