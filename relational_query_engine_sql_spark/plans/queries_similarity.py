"""Similarity-search queries over the embeddings table
(beyond-reference, SURVEY.md §7): brute-force cosine top-k, IVF-bucketed
ANN, and embedding-cosine near-dup pairs.

Query vectors: vec_id < 5 (deterministic). All float arrays are cast to
double before arithmetic in BOTH engines; cosines are rounded to 9
decimals BEFORE ranking so ulp-level drift cannot flip a rank, with
vec_id as the tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datapipe.similarity import (
    cosine_topk,
    embedding_near_dups_lsh,
    ivf_topk,
)
from ..session import run_independent
from ..sources import load_table, local_frame
from .registry import query

N_QUERIES = 5
NEAR_DUP_THRESHOLD = 0.95


def _queries_df(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


# --------------------------------------------------------------------------
# Brute-force cosine top-k — the exact baseline.
# --------------------------------------------------------------------------
@query(
    "ann_bruteforce_topk",
    survey="beyond:ann-bruteforce",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv),
                     9) AS cos
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, vec_id, cos,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, vec_id
               ) AS rnk
        FROM scored
    )
    SELECT query_id, vec_id, cos, rnk FROM ranked WHERE rnk <= 10
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, _queries_df(emb), k=10)


# Vectorized numpy variant of the brute-force path (mapInPandas +
# BLAS matrix multiply) — the throughput path at real embedding scale.
# Rows-only for the driver; ranking equivalence to the JVM path (and
# thus transitively to the DuckDB oracle) is pinned in
# tests/test_ann_paths.py.
@query("ann_bruteforce_numpy", survey="beyond:ann-numpy", priority=90)
def ann_bruteforce_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datapipe.similarity import cosine_topk_numpy

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_numpy(emb, _queries_df(emb), k=10)


# --------------------------------------------------------------------------
# IVF-bucketed ANN — nearest-centroid probe, search one bucket.
# --------------------------------------------------------------------------
def _ivf_ctes(k: int, nprobe: int = 1, pred: str = "") -> str:
    """Shared IVF CTE chain (centroid probe → bucket-restricted exact
    cosine → per-query top-``k`` as ``ivf``); reused by the ann query
    and the recall eval so both see the identical formulation.
    ``nprobe`` widens the centroid probe (multiprobe) and ``pred``
    restricts the candidate scan (filtered vector search; centroids
    stay global) — parameters, not post-hoc text patches, so oracle
    and Spark plan can never silently diverge."""
    pred_sql = f" AND ({pred})" if pred else ""
    return f"""pos1 AS (
        SELECT vec_id, label, embedding,
               UNNEST(generate_series(1, LEN(embedding))) AS pos
        FROM embeddings
    ),
    vals AS (
        SELECT vec_id, label, pos, CAST(embedding[pos] AS DOUBLE) AS val
        FROM pos1
    ),
    cent AS (
        SELECT label AS bucket, pos, AVG(val) AS cval
        FROM vals GROUP BY label, pos
    ),
    qv AS (
        SELECT vec_id AS query_id, pos, val AS qval
        FROM vals WHERE vec_id < {N_QUERIES}
    ),
    qc AS (
        SELECT q.query_id, c.bucket,
               ROUND(SUM(q.qval * c.cval)
                     / (SQRT(SUM(q.qval * q.qval)) * SQRT(SUM(c.cval * c.cval))),
                     9) AS ccos
        FROM qv q JOIN cent c ON q.pos = c.pos
        GROUP BY q.query_id, c.bucket
    ),
    probe AS (
        SELECT query_id, bucket FROM (
            SELECT query_id, bucket,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY ccos DESC, bucket
                   ) AS r
            FROM qc
        ) t WHERE r <= {nprobe}
    ),
    q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT p.query_id, e.vec_id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe),
                     9) AS cos
        FROM probe p
        JOIN embeddings e ON e.label = p.bucket
        JOIN q ON q.query_id = p.query_id
        WHERE e.vec_id <> p.query_id{pred_sql}
    ),
    ivf AS (
        SELECT query_id, vec_id, cos, rnk FROM (
            SELECT query_id, vec_id, cos,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY cos DESC, vec_id
                   ) AS rnk
            FROM scored
        ) t WHERE rnk <= {k}
    )"""


@query(
    "ann_ivf_topk",
    survey="beyond:ann-ivf",
    oracle=f"""
    WITH {_ivf_ctes(5)}
    SELECT query_id, vec_id, cos, rnk FROM ivf
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, _queries_df(emb), k=5)


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs.
#
# The registered (canonical) plan is the LSH-bucketed path: sign-LSH
# band-key equi-joins generate candidates, exact cosine verifies — the
# all-pairs space never materializes, so the plan survives a 100×
# scale-up. The DuckDB oracle is the exact all-pairs formulation (fine
# at oracle scale); pytest additionally pins the LSH path against the
# brute-force Spark baseline on planted near-duplicates
# (tests/test_ann_paths.py).
#
# The driver table has no organic pairs at the 0.95 threshold, so the
# query runs over a derived corpus: embeddings UNION a positively
# scaled clone of the first N_PLANTED vectors (vec_id + PLANT_OFFSET,
# x → 1.001·x). Positive scaling leaves cosine at exactly 1.0 AND
# leaves every sign-LSH bit unchanged (sign(w·1.001x) = sign(w·x)), so
# the planted pairs are found with probability 1 and the oracle row is
# guaranteed non-vacuous (>= N_PLANTED pairs) — round-2 verdict item
# #2. Both engines build the derived corpus from the same expression.
# --------------------------------------------------------------------------
N_PLANTED = 8
PLANT_OFFSET = 1_000_000

# SQL twin of the derived corpus, shared by the pair query and the
# clustering query so both oracles see the identical planted set.
_CORPUS_SQL = f"""
    base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    corpus AS (
        SELECT vec_id, v FROM base
        UNION ALL
        SELECT vec_id + {PLANT_OFFSET},
               list_transform(v, x -> x * 1.001)
        FROM base WHERE vec_id < {N_PLANTED}
    )
"""


def _planted_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs over the planted derived corpus via the
    sign-LSH banded path (the canonical scale-shaped plan)."""
    from ..datapipe.similarity import as_double
    from ..sources import spread, table_rows

    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("embedding")
    )
    planted = base.filter(F.col("vec_id") < N_PLANTED).select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.001)).alias(
            "embedding"
        ),
    )
    # spread ONCE, after the union — the single-file local scan would
    # otherwise run the signature pass on one core (no-op on an
    # already-split production scan), and spreading each branch would
    # double the Python task count. Band geometry sizes itself from
    # footer statistics so no count() job runs.
    corpus = spread(base.unionByName(planted), spark)
    n = table_rows(sf_dir, "embeddings")
    return embedding_near_dups_lsh(
        corpus,
        threshold=NEAR_DUP_THRESHOLD,
        n=None if n is None else n + N_PLANTED,
    )


@query(
    "dedup_embedding_cosine",
    survey="beyond:dedup-embedding",
    oracle=f"""
    WITH {_CORPUS_SQL}
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
    FROM corpus a
    JOIN corpus b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= {NEAR_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _planted_near_dups(spark, sf_dir).select(
        F.col("v1"), F.col("v2"), F.col("cos")
    )


# --------------------------------------------------------------------------
# Semantic dedup end-to-end: LSH candidate pairs → exact-cosine verify
# → connected components → canonical representative per cluster. This
# is the full "keep one of each near-duplicate group" pipeline a
# training corpus runs before sampling: candidate generation never
# materializes the all-pairs space (banded equi-joins), clustering is
# O(diameter) keyed joins (operators/graph.py), and the representative
# is the deterministic min-id label CC already produces. The oracle
# recomputes the same pair set exactly (all-pairs is fine at oracle
# scale) and resolves components with a recursive CTE — near-dup
# clusters are tiny cliques, so transitive closure stays bounded.
# --------------------------------------------------------------------------
@query(
    "dedup_semantic_clusters",
    survey="beyond:semantic-dedup,beyond:dedup-clusters",
    priority=60,
    oracle=f"""
    WITH RECURSIVE {_CORPUS_SQL},
    pairs AS (
        SELECT a.vec_id AS v1, b.vec_id AS v2
        FROM corpus a
        JOIN corpus b ON a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(a.v, b.v), 6)
              >= {NEAR_DUP_THRESHOLD}
    ),
    edges AS (
        SELECT v1 AS a, v2 AS b FROM pairs
        UNION
        SELECT v2, v1 FROM pairs
    ),
    reach AS (
        SELECT a AS node, b AS peer FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.peer
    )
    SELECT node, LEAST(node, MIN(peer)) AS label
    FROM reach GROUP BY node
    """,
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    pairs = _planted_near_dups(spark, sf_dir).select("v1", "v2")
    return connected_components(pairs, src="v1", dst="v2")


# --------------------------------------------------------------------------
# IVF index training: Lloyd's k-means (datapipe/kmeans.py), the
# iterative trainer behind ann_ivf_topk's buckets. Registered
# rows-only: cluster means are floating-point reductions whose exact
# values are partition-order-dependent, so there is no bit-stable SQL
# twin — the hard guarantees (determinism of the seed set, inertia
# monotonicity, bucket coverage) are pinned in tests/test_kmeans.py.
# The registered shape returns per-cluster population + mean squared
# distance, the balance profile an IVF deployment monitors.
# --------------------------------------------------------------------------
@query(
    "ann_kmeans_train",
    survey="beyond:kmeans-train",
    priority=90,
)
def ann_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datapipe.kmeans import train_kmeans
    from ..sources import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"), spark)
    assigned = train_kmeans(emb, k=10, iters=3)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("dist"), 6).alias("mean_sqdist"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# Int8 embedding quantization (datapipe/similarity.py:
# quantize_embeddings) — the shuffle-bytes lever for embedding
# pipelines. The registered shape folds each quantized vector to
# (scale, sum_q, max_abs_q): integer aggregates are order-independent,
# so the comparison is bit-strict, and max_abs_q <= 127 pins the
# range contract.
# --------------------------------------------------------------------------
@query(
    "emb_quantize_int8",
    survey="beyond:embedding-quantize",
    priority=60,
    oracle="""
    WITH s AS (
        SELECT vec_id,
               CAST(embedding AS DOUBLE[]) AS v,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x))) / 127.0 AS scale
        FROM embeddings
    )
    SELECT vec_id,
           ROUND(scale, 9) AS scale,
           CAST(len(v) AS INT) AS n_dims,
           CAST(CASE WHEN scale = 0 THEN 0
                ELSE list_sum(list_transform(
                         v, x -> CAST(FLOOR(x / scale + 0.5) AS BIGINT)))
           END AS BIGINT) AS sum_q,
           CAST(CASE WHEN scale = 0 THEN 0
                ELSE list_max(list_transform(
                         v, x -> abs(CAST(FLOOR(x / scale + 0.5) AS BIGINT))))
           END AS BIGINT) AS max_abs_q
    FROM s
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datapipe.similarity import quantize_embeddings
    from ..sources import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"), spark)
    q = quantize_embeddings(emb)
    return q.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.size("qvec").alias("n_dims"),
        F.aggregate(
            "qvec", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("sum_q"),
        F.array_max(F.transform("qvec", lambda x: F.abs(x))).alias(
            "max_abs_q"
        ),
    )


# --------------------------------------------------------------------------
# Matryoshka-style truncation: keep the first TRUNC_DIMS of each
# embedding, re-normalize, and report how well truncated cosine
# preserves the full-dimension score against a fixed probe vector
# (vec_id 0). The 100 TB lever: truncated vectors shrink ANN index
# bytes k/d-fold and the quality check is exactly this per-vector
# cosine-gap profile. Pure JVM array algebra on both sides.
# --------------------------------------------------------------------------
TRUNC_DIMS = 16


@query(
    "emb_truncate_renorm",
    survey="beyond:matryoshka-truncate",
    priority=60,
    oracle=f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    probe AS (SELECT v AS p FROM base WHERE vec_id = 0)
    SELECT b.vec_id,
           ROUND(list_cosine_similarity(b.v, probe.p), 6) AS cos_full,
           ROUND(list_cosine_similarity(b.v[1:{TRUNC_DIMS}],
                                        probe.p[1:{TRUNC_DIMS}]), 6)
               AS cos_trunc
    FROM base b, probe
    WHERE b.vec_id <> 0
    """,
)
def emb_truncate_renorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datapipe.similarity import as_double, cosine

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("p")
    )
    tr = lambda c: F.slice(c, 1, TRUNC_DIMS)  # noqa: E731
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.round(cosine(F.col("v"), F.col("p")), 6).alias("cos_full"),
            F.round(cosine(tr(F.col("v")), tr(F.col("p"))), 6).alias(
                "cos_trunc"
            ),
        )
    )


# --------------------------------------------------------------------------
# Centroid-spread monitor: per-label centroid norm and its distance
# from the global centroid — the IVF-health dashboard (labels whose
# centroid collapses toward the global mean stop discriminating).
# Long-form posexplode + two grouped means; centroids are k×dim rows
# however large the vector table is.
# --------------------------------------------------------------------------
@query(
    "emb_centroid_spread",
    survey="beyond:centroid-monitor",
    priority=60,
    oracle="""
    WITH pos1 AS (
        SELECT label, embedding,
               UNNEST(generate_series(1, LEN(embedding))) AS pos
        FROM embeddings
    ),
    vals AS (
        SELECT label, pos, CAST(embedding[pos] AS DOUBLE) AS val
        FROM pos1
    ),
    cent AS (
        SELECT label, pos, AVG(val) AS c FROM vals GROUP BY label, pos
    ),
    gcent AS (
        SELECT pos, AVG(val) AS g FROM vals GROUP BY pos
    )
    SELECT label,
           ROUND(SQRT(SUM(c * c)), 6) AS centroid_norm,
           ROUND(SQRT(SUM((c - g) * (c - g))), 6) AS dist_from_global
    FROM cent JOIN gcent USING (pos)
    GROUP BY label
    """,
)
def emb_centroid_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datapipe.similarity import as_double

    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", as_double(F.col("embedding")).alias("e")
    )
    vals = emb.select("label", F.posexplode("e").alias("pos", "val"))
    cent = vals.groupBy("label", "pos").agg(F.avg("val").alias("c"))
    glob = vals.groupBy("pos").agg(F.avg("val").alias("g"))
    return (
        cent.join(F.broadcast(glob), "pos")
        .groupBy("label")
        .agg(
            F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias(
                "centroid_norm"
            ),
            F.round(
                F.sqrt(F.sum((F.col("c") - F.col("g")) ** 2)), 6
            ).alias("dist_from_global"),
        )
    )


# --------------------------------------------------------------------------
# ANN recall evaluation: IVF top-10 measured against the exact
# brute-force top-10, per query — the recall@k number an ANN
# deployment monitors when retuning bucket counts / probe width.
# Both engines re-derive BOTH paths from the shared formulations
# (the ivf CTE chain is literally the ann_ivf_topk oracle's), so the
# eval row is itself hash-checked. Counts are integers; recall is
# one division rounded to 2.
# --------------------------------------------------------------------------
_EVAL_K = 10


@query(
    "eval_ann_recall",
    survey="beyond:ann-eval",
    priority=60,
    oracle=f"""
    WITH {_ivf_ctes(_EVAL_K)},
    exact AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY ROUND(list_cosine_similarity(
                           CAST(e.embedding AS DOUBLE[]), q.qe), 9) DESC,
                       e.vec_id
                   ) AS rnk
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> q.query_id
        ) t WHERE rnk <= {_EVAL_K}
    ),
    hits AS (
        SELECT exact.query_id, COUNT(*) AS n_hit
        FROM exact JOIN ivf USING (query_id, vec_id)
        GROUP BY exact.query_id
    )
    SELECT q.query_id,
           {_EVAL_K} AS k,
           CAST(COALESCE(hits.n_hit, 0) AS BIGINT) AS n_hit,
           ROUND(COALESCE(hits.n_hit, 0) / {_EVAL_K}.0, 2) AS recall
    FROM q LEFT JOIN hits USING (query_id)
    """,
)
def eval_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qdf = _queries_df(emb)
    exact = cosine_topk(emb, qdf, k=_EVAL_K).select("query_id", "vec_id")
    ivf = ivf_topk(emb, qdf, k=_EVAL_K).select("query_id", "vec_id")
    hits = (
        exact.join(ivf, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        qdf.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.lit(_EVAL_K).alias("k"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / float(_EVAL_K), 2
            ).alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# Multiprobe IVF: the recall/cost knob — search the top-2 centroid
# buckets instead of 1, closing the Voronoi-boundary miss gap for
# ~2× candidate scan. Same shared CTE chain with the probe rank
# widened; at 100 TB nprobe is the dial an ANN deployment turns when
# eval_ann_recall dips.
# --------------------------------------------------------------------------
@query(
    "ann_ivf_multiprobe",
    survey="beyond:ann-ivf-multiprobe",
    priority=60,
    oracle=f"""
    WITH {_ivf_ctes(5, nprobe=2)}
    SELECT query_id, vec_id, cos, rnk FROM ivf
    """,
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, _queries_df(emb), k=5, nprobe=2)


# --------------------------------------------------------------------------
# Filtered vector search (beyond): metadata predicate AND nearest-k —
# "similar documents that are ALSO in the allowed subset", the shape
# every RAG deployment with tenancy/language/recency filters runs.
# Pre-filtering: the predicate restricts the candidate scan before
# scoring (cost tracks the filtered set), the centroid probe stays
# global, and nprobe=2 compensates for the thinner buckets — under a
# selective filter the k nearest SURVIVING vectors often live outside
# the top-1 Voronoi cell, which is exactly why the knob exists.
# --------------------------------------------------------------------------
@query(
    "ann_ivf_filtered",
    survey="beyond:ann-filtered",
    priority=60,
    oracle=f"""
    WITH {_ivf_ctes(5, nprobe=2, pred="e.vec_id % 3 = 0")}
    SELECT query_id, vec_id, cos, rnk FROM ivf
    """,
)
def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        _queries_df(emb),
        k=5,
        nprobe=2,
        filter_cond=F.col("vec_id") % 3 == 0,
    )


# --------------------------------------------------------------------------
# Oracled bound for the rows-only BLAS path: the numpy mapInPandas
# top-k must be IDENTICAL (same doc, same rounded cosine, same rank)
# to the JVM expression path at every rank — both round to 9 decimals
# before ranking with vec_id tiebreaks, so agreement is exact, not
# approximate. The JVM path is itself hash-oracled against DuckDB
# (ann_bruteforce_topk), so a green hash here transitively pins the
# numpy kernel to the SQL oracle. This closes the "rows-only" gap for
# ann_bruteforce_numpy with a hash-checked assertion.
# --------------------------------------------------------------------------
@query(
    "eval_numpy_jvm_parity",
    survey="beyond:ann-numpy,beyond:eval",
    priority=90,
    oracle=f"""
    SELECT vec_id AS query_id,
           10 AS n_rank_matches,
           TRUE AS paths_identical
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def eval_numpy_jvm_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datapipe.similarity import cosine_topk, cosine_topk_numpy
    from ..sources import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"), spark)
    q = _queries_df(emb)
    jvm = cosine_topk(emb, q, k=10).select(
        "query_id",
        "rnk",
        F.col("vec_id").alias("_jvm_id"),
        F.col("cos").alias("_jvm_cos"),
    )
    blas = cosine_topk_numpy(emb, q, k=10).select(
        "query_id", "rnk", "vec_id", "cos"
    )
    joined = blas.join(jvm, ["query_id", "rnk"])
    return (
        joined.groupBy("query_id")
        .agg(
            F.sum(
                (
                    (F.col("vec_id") == F.col("_jvm_id"))
                    & (F.col("cos") == F.col("_jvm_cos"))
                ).cast("int")
            ).alias("n_rank_matches")
        )
        .select(
            "query_id",
            F.col("n_rank_matches").cast("int").alias("n_rank_matches"),
            (F.col("n_rank_matches") == 10).alias("paths_identical"),
        )
    )


# --------------------------------------------------------------------------
# Oracled bounds for the rows-only k-means trainer: the floating-point
# centroid VALUES are reduction-order-dependent (hence rows-only), but
# Lloyd's algorithm guarantees hash-checkable invariants — every point
# assigned exactly once, at most k non-empty clusters, and the total
# inertia after more rounds never exceeds the inertia after fewer
# (monotone descent; same deterministic md5 seeding puts both runs on
# the same trajectory). A broken assign step, a lost partition, or a
# diverging update step flips a hashed bit.
# --------------------------------------------------------------------------
@query(
    "eval_kmeans_invariants",
    survey="beyond:kmeans-train,beyond:eval",
    priority=90,
    oracle="""
    SELECT COUNT(*) AS n_points,
           TRUE AS every_point_assigned_once,
           TRUE AS at_most_k_clusters,
           TRUE AS inertia_monotone
    FROM embeddings
    """,
)
def eval_kmeans_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datapipe.kmeans import train_kmeans_multi
    from ..sources import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"), spark)
    # ONE shared Lloyd trajectory for both round counts (the 1-round
    # and 3-round runs walk identical frames under the deterministic
    # md5 seeding, so two independent trainings were pure duplicate
    # work — guide §1.2: don't compute things twice). Snapshots are
    # value-identical to separate train_kmeans calls (pinned in
    # tests/test_kmeans.py::test_multi_matches_independent_runs).
    snaps = train_kmeans_multi(emb, k=10, iters=(1, 3))
    # snaps[1] is already checkpointed INSIDE the trainer (it carries
    # into round 2), and snaps[3] feeds exactly one aggregate — a
    # second checkpoint of either was a redundant full-copy job each.
    # The three terminal actions are independent: overlap them (§2.6).
    n_emb, (i1,), (i3, n3, k3) = run_independent(
        spark,
        emb.count,
        snaps[1].agg(F.sum("dist")).first,
        snaps[3]
        .agg(F.sum("dist"), F.count(F.lit(1)), F.countDistinct("cluster"))
        .first,
    )
    return local_frame(
        spark,
        [
            (
                int(n3),
                bool(n3 == n_emb),
                bool(1 <= k3 <= 10),
                # strict descent up to float-reduction noise
                bool(i3 <= i1 * (1 + 1e-9) + 1e-9),
            )
        ],
        "n_points bigint, every_point_assigned_once boolean, "
        "at_most_k_clusters boolean, inertia_monotone boolean",
    )


# --------------------------------------------------------------------------
# Oracled bound on the int8 quantization lever: candidate generation
# over DEQUANTIZED vectors (q·scale — the 4-8× shuffle-bytes saving)
# must retain the float-precision top-k. Recall@10 per query rides the
# hashed result as an exact integer, with the acceptance floor as a
# boolean — a quantizer regression (bad scale, tie-break drift,
# truncation) drops hits and flips hash-checked bits. The measured
# floor at the driver SFs is 10/10 on every query; the asserted bound
# is >= 8/10 so the row stays stable if future driver data lands near
# a rank boundary.
# --------------------------------------------------------------------------
@query(
    "eval_quantization_recall",
    survey="beyond:embedding-quantize,beyond:eval",
    priority=90,
    oracle=f"""
    SELECT vec_id AS query_id,
           10 AS k, TRUE AS recall_ge_80pct
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def eval_quantization_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..datapipe.similarity import cosine_topk, quantize_embeddings
    from ..sources import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"), spark)
    q = quantize_embeddings(emb)
    deq = q.select(
        "vec_id",
        F.transform(
            "qvec", lambda x: x.cast("double") * F.col("scale")
        ).alias("embedding"),
    )
    queries_deq = deq.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = cosine_topk(deq, queries_deq, k=10).select(
        "query_id", "vec_id"
    )
    want = cosine_topk(emb, _queries_df(emb), k=10).select(
        "query_id", "vec_id"
    )
    hits = (
        want.join(got, ["query_id", "vec_id"])
        .groupBy("query_id")
        .count()
        .withColumnRenamed("count", "_hits")
    )
    return (
        want.groupBy("query_id")
        .count()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.col("count").cast("int").alias("k"),
            (
                F.coalesce(F.col("_hits"), F.lit(0))
                >= F.col("count") * 0.8
            ).alias("recall_ge_80pct"),
        )
    )


# --------------------------------------------------------------------------
# MMR diversity re-ranking (Carbonell & Goldstein, SIGIR'98; lambda =
# 0.5) — the RAG retrieval step between "top-k by cosine" and the
# context packer: greedily re-rank a bounded candidate pool so near-
# duplicate chunks can't crowd out coverage. The greedy is inherently
# sequential IN k, so the scale shape is per-QUERY parallelism: pool
# selection is the broadcast-scored top-N window, pairwise sims are a
# keyed self-join of the bounded pool, and the k-step loop runs inside
# one applyInPandas group per query. Every selection compares exact
# BIGINT e9 values (cosine rounded at 1e-9 then scaled — the repo's
# cross-engine-stable idiom), so the DuckDB oracle below — the SAME
# greedy unrolled into one CTE per step, no recursion — reproduces the
# ranking bit-for-bit and the driver hash-checks an iterative
# algorithm exactly.
# --------------------------------------------------------------------------
_MMR_K = 5
_MMR_POOL = 12


def _mmr_oracle(k: int = _MMR_K, pool: int = _MMR_POOL) -> str:
    """The MMR greedy unrolled into k sequential CTEs: step i scores
    every unselected candidate as rel - max(sim to selected), picks
    the max (ties -> smaller vec_id), and appends it to the running
    selection. Generated, not hand-written, so k/pool stay in one
    place with the Spark path."""
    e9 = (
        "CAST(ROUND(ROUND(list_cosine_similarity("
        "CAST({a}.embedding AS DOUBLE[]), {b}), 9) * 1e9) AS BIGINT)"
    )
    steps = []
    for i in range(2, k + 1):
        prev = f"selall{i - 1}"
        steps.append(f"""
    sel{i} AS (
        SELECT query_id, vec_id, CAST({i} AS INTEGER) AS mmr_rank
        FROM (
            SELECT m.query_id, m.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY m.query_id
                       ORDER BY m.score DESC, m.vec_id
                   ) AS rn
            FROM (
                SELECT c.query_id, c.vec_id, c.rel - MAX(p.sim) AS score
                FROM cand c
                JOIN pairs p
                  ON p.query_id = c.query_id AND p.a = c.vec_id
                JOIN {prev} s
                  ON s.query_id = p.query_id AND s.vec_id = p.b
                WHERE NOT EXISTS (
                    SELECT 1 FROM {prev} s2
                    WHERE s2.query_id = c.query_id
                      AND s2.vec_id = c.vec_id
                )
                GROUP BY c.query_id, c.vec_id, c.rel
            ) m
        ) WHERE rn = 1
    ),
    selall{i} AS (
        SELECT * FROM selall{i - 1} UNION ALL SELECT * FROM sel{i}
    )""")
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               {e9.format(a="e", b="q.qv")} AS rel
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ),
    cand AS (
        SELECT query_id, vec_id, rel FROM (
            SELECT query_id, vec_id, rel,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY rel DESC, vec_id
                   ) AS rn
            FROM scored
        ) WHERE rn <= {pool}
    ),
    pairs AS (
        SELECT c1.query_id, c1.vec_id AS a, c2.vec_id AS b,
               {e9.format(a="e1", b="CAST(e2.embedding AS DOUBLE[])")} AS sim
        FROM cand c1
        JOIN cand c2
          ON c1.query_id = c2.query_id AND c1.vec_id <> c2.vec_id
        JOIN embeddings e1 ON e1.vec_id = c1.vec_id
        JOIN embeddings e2 ON e2.vec_id = c2.vec_id
    ),
    sel1 AS (
        SELECT query_id, vec_id, CAST(1 AS INTEGER) AS mmr_rank FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY rel DESC, vec_id
                   ) AS rn
            FROM cand
        ) WHERE rn = 1
    ),
    selall1 AS (SELECT * FROM sel1),{",".join(steps)}
    SELECT query_id, vec_id, mmr_rank FROM selall{k}
    """


@query(
    "rag_mmr_rerank",
    survey="beyond:mmr-rerank,beyond:rag",
    priority=60,
    oracle=_mmr_oracle(),
)
def rag_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datapipe.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_rerank(
        emb, _queries_df(emb), k=_MMR_K, pool=_MMR_POOL
    )


# --------------------------------------------------------------------------
# PCA WHITENING of the embedding table (datapipe/similarity.py
# gram_partials / pca_whiten_model / project_whiten) — the standard
# decorrelate-and-equalize step before ANN indexing. Scale shape: the
# corpus never shuffles — each Arrow batch reduces map-side to
# (n, sum, gram) so only p x (1+d+d^2) float64s reach the driver; the
# d x d eigendecomposition is driver-side numpy (64x64); the whitening
# matrix ships back in the projection closure. Because W is derived
# from the SAME covariance it whitens, cov(Y) == I_k holds to float
# rounding — the in-plan verification re-runs the partial-Gram pass on
# the PROJECTED vectors and checks it, plus loading orthonormality and
# descending explained variance, all driver-side numpy on
# metadata-plane aggregates. The oracle pins the row universe and the
# three invariant flags; the hash proves every vector passed through
# the projection with the invariants intact.
# --------------------------------------------------------------------------
@query(
    "emb_pca_whiten",
    survey="beyond:embedding-pca-whiten",
    priority=60,
    oracle="""
    SELECT vec_id,
           TRUE AS loadings_orthonormal,
           TRUE AS variance_descending,
           TRUE AS whitened_cov_identity
    FROM embeddings
    """,
)
def emb_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..datapipe.similarity import (
        as_double,
        covariance_from_partials,
        gram_partials,
        pca_whiten_model,
        project_whiten,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    n, mu, cov = covariance_from_partials(
        gram_partials(emb).collect()  # p tiny rows — metadata-plane
    )
    lam, V, W = pca_whiten_model(cov)
    k = W.shape[1]

    orth = bool(
        np.abs(V.T @ V - np.eye(V.shape[1])).max() < 1e-9
    )
    desc = bool(np.all(np.diff(lam) <= 1e-12))
    assert orth and desc, "eigendecomposition invariants violated"

    proj = project_whiten(emb, mu, W)
    _, _, cov_y = covariance_from_partials(
        gram_partials(proj, vec_col="y").collect()
    )
    white = bool(np.abs(cov_y - np.eye(k)).max() < 1e-6)
    assert white, (
        f"whitened covariance deviates from I_{k} by "
        f"{np.abs(cov_y - np.eye(k)).max():.2e}"
    )

    return proj.select(
        "vec_id",
        F.lit(orth).alias("loadings_orthonormal"),
        F.lit(desc).alias("variance_descending"),
        F.lit(white).alias("whitened_cov_identity"),
    )


# --------------------------------------------------------------------------
# WHITENED-SPACE ANN RECALL (beyond; composes emb_pca_whiten with the
# centroid-bucketed IVF search path). Measured finding this row
# exists to pin: on this corpus the embedding covariance spectrum is
# near-FLAT (lam 0.029 -> 0.007, no knee), so the label buckets have
# little geometric structure (raw-space eval_ann_recall measures mean
# recall@10 of only 0.08-0.14 at nprobe=1) and FULL whitening pushes
# the space further toward isotropy, where a 10-cell IVF scatters
# true neighbors across Voronoi cells. Absolute recall is therefore a
# property of the data, not the operator - asserting a high floor
# would be dishonest. What IS invariant, and what a production
# pipeline must get right when it whitens an indexed corpus, are two
# comparative properties this row measures and asserts in-plan:
#
#   1. REINDEX >= STALE: probing whitened vectors through buckets
#      REBUILT in whitened space (nearest_centroid_buckets - one
#      Voronoi-consistent Lloyd assignment under the probe metric)
#      recalls at least as much as probing through the stale
#      raw-space buckets (measured 0.24>=0.18 / 0.34>=0.28 /
#      0.42>=0.26 at sf0.001/0.01/0.1, nprobe=2). Projection composes
#      with IVF only if the index lives in the searched space.
#   2. MULTIPROBE MONOTONE (per query): nprobe=2 candidates are a
#      superset of nprobe=1, and an exact-top-k member present in the
#      candidate set can never be displaced from the IVF top-k (fewer
#      than k vectors rank above it globally), so n_hit is monotone
#      in nprobe - a structural theorem the composed pipeline must
#      not break.
#
# Whitened coordinates are eigenvector-derived (engine-specific float
# linear algebra DuckDB cannot reproduce), so like emb_pca_whiten
# this row uses the invariant-flag oracle pattern: the oracle pins
# the query-row universe and k; the hash proves both in-plan asserts
# fired. Scale shape: gram partials are map-side only (p tiny rows to
# the driver), the projection is one Arrow-batched matmul per batch
# with W in the closure, the reindex adds one broadcast-centroid pass
# (no corpus-scale shuffle), and the probe/scan is the existing
# bucketed path.
# --------------------------------------------------------------------------
@query(
    "eval_whiten_ann_recall",
    survey="beyond:embedding-pca-whiten,beyond:ann-eval",
    priority=60,
    oracle=f"""
    SELECT vec_id AS query_id,
           {_EVAL_K} AS k,
           TRUE AS reindex_no_worse,
           TRUE AS multiprobe_monotone
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def eval_whiten_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datapipe.similarity import (
        as_double,
        covariance_from_partials,
        gram_partials,
        nearest_centroid_buckets,
        pca_whiten_model,
        project_whiten,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    n, mu, cov = covariance_from_partials(
        gram_partials(vecs).collect()  # p tiny rows - metadata-plane
    )
    _, _, Wm = pca_whiten_model(cov)

    # The whitened projection is an Arrow-batched mapInPandas pass;
    # uncached it would recompute for EVERY downstream action (three
    # IVF probes + the exact top-k + two index builds ≈ 8 passes).
    # Persisting the (vec_id, y) intermediate — guide §5, reuse that
    # outweighs memory pressure; n x d doubles, corpus-scale but
    # column-pruned — turns those into one projection pass total. Same
    # for the two index frames and the exact top-k, each reused by
    # every probe below. (Intermediates built inside the timed query;
    # bench clears them between queries.)
    proj = project_whiten(vecs, mu, Wm).persist()  # (vec_id, y)
    stale = proj.join(emb.select("vec_id", "label"), "vec_id").persist()
    fresh = proj.join(
        nearest_centroid_buckets(stale, vec_col="y"), "vec_id"
    ).persist()
    wq = proj.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("y").alias("qvec")
    )
    exact = (
        cosine_topk(proj, wq, k=_EVAL_K, vec_col="y")
        .select("query_id", "vec_id")
        .persist()
    )
    qids = [r["query_id"] for r in wq.select("query_id").collect()]

    def hits_by_query(indexed: DataFrame, nprobe: int) -> dict:
        ivf = ivf_topk(
            indexed,
            wq,
            k=_EVAL_K,
            vec_col="y",
            bucket_col="label",
            nprobe=nprobe,
        ).select("query_id", "vec_id")
        got = {
            r["query_id"]: r["n_hit"]
            for r in exact.join(ivf, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
            .collect()  # <= N_QUERIES rows - metadata-plane
        }
        return {q: got.get(q, 0) for q in qids}

    # The three probes are independent reads of the persisted frames
    # (each ends in its own <= N_QUERIES-row collect), so overlap them
    # (guide §2.6): actions are only sequential because driver code
    # calls them sequentially, and each probe's task tail otherwise
    # leaves the executors idle. Concurrent first-touch of a lazily
    # persisted frame is safe — the block manager computes each cached
    # partition once and blocks the other thread on the block lock.
    h_stale, h_re1, h_re2 = run_independent(
        spark,
        lambda: hits_by_query(stale, 2),
        lambda: hits_by_query(fresh, 1),
        lambda: hits_by_query(fresh, 2),
    )

    no_worse = sum(h_re2.values()) >= sum(h_stale.values())
    assert no_worse, (
        f"whitened-space reindex recalled LESS than the stale raw-space "
        f"index: {h_re2} vs {h_stale}"
    )
    monotone = all(h_re2[q] >= h_re1[q] for q in h_re2)
    assert monotone, (
        f"n_hit not monotone in nprobe: nprobe=2 {h_re2} vs nprobe=1 "
        f"{h_re1}"
    )
    return wq.select(
        "query_id",
        F.lit(_EVAL_K).alias("k"),
        F.lit(bool(no_worse)).alias("reindex_no_worse"),
        F.lit(bool(monotone)).alias("multiprobe_monotone"),
    )
