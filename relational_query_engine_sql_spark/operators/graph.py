"""Distributed connected components over an edge DataFrame.

Why this exists: near-duplicate detection (MinHash-LSH, SimHash,
n-gram Jaccard — ``datapipe/dedup.py``) emits PAIRS, but a dedup
pipeline must act on CLUSTERS: if A~B and B~C, all three are one
duplicate group even when A and C never co-occur in a bucket. The
transitive-closure step is what lets a 100 TB corpus keep exactly one
canonical document per group. The reference has no analog (its dedup
surface is row-level UNIQUE constraints); this is part of the
training-data-pipeline extension surface.

Algorithm: min-label propagation WITH pointer doubling, expressed
entirely as DataFrame ops. Each round every node (1) adopts the
smallest label among itself and its neighbors, then (2) shortcuts
through its own label — ``label(n) ← label(label(n))`` — so the
distance a label has travelled roughly doubles per round. Labels
start at the node id and only ever decrease (``label(n) ≤ n``
invariant), so the shortcut join is monotone-safe and the fixpoint is
the component minimum, exactly as in plain propagation. Convergence
is O(log diameter) rounds instead of O(diameter) — the same bound as
large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) with a simpler per-round plan: one
shuffle-join (edges ⋈ labels), one groupBy-min, one label⋈label
self-join — all plain hash exchanges on the node id, no driver-side
graph state, no collect(). Duplicate clusters are short-diameter
(near-cliques, 2-3 rounds either way); the doubling is what keeps
adversarial long-chain graphs from turning into hundreds of rounds.

At 100 TB: label state is one row per distinct node (bounded by the
candidate-pair population, far smaller than the corpus); the per-round
cost is three exchanges of that state. Each round materializes via
``localCheckpoint`` to cut lineage — on a real cluster prefer
``spark.sparkContext.setCheckpointDir`` + ``checkpoint()`` so label
state survives executor loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources import collect_at_most, local_frame

# Edge-count gate for the driver-side union-find fast path. Near-dup
# edge sets are usually tiny relative to the corpus (pairs only exist
# where documents actually collide), but they are still data-plane:
# at 100 TB they can be billions of rows, so the driver path is
# GATED — above the gate the distributed loop below runs unchanged.
# 500k edges ≈ 8 MB of long pairs, well under any driver budget.
# Read at call time, so 0 (set on the module) forces the loop.
DRIVER_MAX_EDGES = 500_000


_INTEGRAL = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)


def _driver_components(edges: DataFrame, table) -> DataFrame:
    """Union-find over ``table``, the collected (a, b) edge list of
    ``edges`` — exact min-label.

    Python int comparison is identical to Spark's integral-type
    ordering, and "minimum node id per component" has a unique answer,
    so the result is bit-for-bit the distributed loop's fixpoint. The
    caller gates on edge count and integral node types.
    """
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    a_vals = table.column("a").to_pylist()
    b_vals = table.column("b").to_pylist()
    for a, b in zip(a_vals, b_vals):
        ra, rb = find(a), find(b)
        if ra != rb:
            # Root the larger id under the smaller: the root of every
            # tree is then the component minimum by construction.
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    nodes = set(a_vals)
    nodes.update(b_vals)
    ntype = edges.schema["a"].dataType
    # nullable=True mirrors the distributed loop's output schema
    # (groupBy keys / least-coalesce over parquet-sourced ids are
    # nullable); the focused test pins schema equality between paths.
    schema = T.StructType(
        [
            T.StructField("node", ntype, True),
            T.StructField("label", ntype, True),
        ]
    )
    rows = [(n, find(n)) for n in sorted(nodes)]
    # The labels re-enter the plan as a LocalRelation with an exact
    # size estimate (no Python worker, no Scan ExistingRDD), so the
    # downstream label joins (docs LEFT JOIN labels in every dedup/ER
    # consumer) plan as BroadcastHashJoin — zero corpus-side exchange
    # (§3.1). The hint keeps them broadcast in a session that lowers
    # or disables autoBroadcastJoinThreshold: the gate bounds this
    # frame at <= 2·gate nodes (~16 MB of long pairs at the default).
    # The distributed path's result stays unhinted because its size
    # is unbounded.
    return F.broadcast(local_frame(edges.sparkSession, rows, schema))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label each node with the minimum node id reachable from it.

    ``edges`` is an undirected edge list (self-loops and duplicates
    tolerated). Returns ``(node, label)`` — one row per node that
    appears in any edge; ``label`` is the smallest node id in its
    component, a deterministic canonical representative.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # Materialize the edge set ONCE before symmetrizing: the union
        # below references e twice, and without a lineage cut each
        # branch re-evaluates the (often expensive) upstream candidate
        # generator — for LSH near-dup edges that re-runs the whole
        # signature+banding pipeline per branch. The checkpoint pins
        # the edge list to executor storage so every round's join
        # reads edges, not the generator DAG.
        .localCheckpoint(eager=True)
    )
    # Driver fast path (§1.2 step 1: remove whole Spark jobs): each
    # loop round below costs ~2 actions of fixed job latency however
    # small the graph, and dedup graphs at bench scale are a few
    # hundred edges. When the (checkpointed) edge list is small and
    # integrally typed, collect it and run union-find on the driver —
    # exact same min-labels, zero loop jobs. ONE collect_at_most over
    # the already-materialized checkpoint both decides the gate and
    # delivers the edges; the distributed loop runs above the gate and
    # for non-integral ids.
    ntype = e.schema["a"].dataType
    if isinstance(ntype, _INTEGRAL) and e.schema["b"].dataType == ntype:
        table = collect_at_most(e, DRIVER_MAX_EDGES)
        if table is not None:
            return _driver_components(e, table)

    # Symmetrize once so one join per round propagates both directions.
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()

    # Initialize each node at min(self, min neighbor) — round 0's
    # neighbor-min adoption fused into the init aggregate, so the loop
    # starts one propagation step ahead (each loop round costs ~0.5 s
    # of fixed job latency regardless of graph size; round-7 er
    # profiling).
    labels = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("nmin"))
        .select(
            "node",
            F.least(F.col("node"), F.col("nmin")).alias("label"),
        )
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["a"] == labels["node"])
            .select(F.col("b").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nlabel"))
        )
        # Step 1: adopt the neighborhood minimum. PERSISTED (not
        # checkpointed) because the pointer-doubling join below
        # consumes this frame TWICE (node side + label-lookup side):
        # a lazy persist caches it on first evaluation inside the
        # new_labels checkpoint job — same 3 exchanges per round, one
        # fewer Spark ACTION. (Round-7 profiling: each round of the
        # 3-action loop cost ~0.6 s of job-scheduling overhead on an
        # 80-edge graph — the round's fixed cost was actions, not
        # shuffle volume. Lineage is still cut every round by the
        # new_labels checkpoint.)
        half = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nlabel", "label")
            ).alias("label"),
            F.col("label").alias("_old"),
        ).persist()
        # Step 2: pointer doubling — label(n) ← label(label(n)).
        # Every label value is itself a node in the frame (labels are
        # reachable node ids), so the left join only misses when the
        # label IS the node (coalesce keeps it). label(x) ≤ x makes
        # the adopted value monotone non-increasing.
        ptr = half.select(
            F.col("node").alias("_pn"), F.col("label").alias("_pl")
        )
        # Labels only ever decrease, so the fixpoint test is a strict
        # inequality carried as a flag INSIDE the label frame: the
        # checkpoint materializes it for free and the convergence
        # check is then a scan of the checkpointed state — no extra
        # old-vs-new join job per round.
        new_labels = (
            half.join(ptr, half["label"] == ptr["_pn"], "left")
            .select(
                "node",
                F.coalesce("_pl", "label").alias("label"),
                (F.coalesce("_pl", "label") < F.col("_old")).alias(
                    "_chg"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("_chg").limit(1).count()
        half.unpersist()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break

    sym.unpersist()
    return labels
