"""Unit tests for the round-2 additions: connected components,
banded range join, and sliding-window chunking."""

from __future__ import annotations

from pyspark.sql import functions as F

from relational_query_engine_sql_spark.datapipe.chunking import chunk_documents
from relational_query_engine_sql_spark.operators.graph import connected_components
from relational_query_engine_sql_spark.operators.rangejoin import banded_range_join


# -- connected components ---------------------------------------------------


def test_cc_two_components_and_chain(spark):
    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # clique 10-11-12, plus a duplicate + self-loop edge that must be
    # tolerated.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (2, 1), (7, 7)],
        "src long, dst long",
    )
    got = {
        (r["node"], r["label"])
        for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
    }


def test_cc_long_chain_converges(spark):
    n = 40  # diameter 39 — must still converge via min-label rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    rows = connected_components(edges, max_iter=64).collect()
    assert {r["label"] for r in rows} == {0}
    assert len(rows) == n + 1


def test_cc_driver_path_matches_distributed(spark, monkeypatch):
    """The gated driver-side union-find must be bit-identical to the
    distributed loop — rows AND schema — and each gate setting must
    route to the path it names (spied via _driver_components)."""
    from relational_query_engine_sql_spark.operators import graph

    edges = spark.createDataFrame(
        # two cliques, a chain bridging into one of them, a self-loop,
        # an isolated pair, and duplicate/reversed edges
        [(5, 9), (9, 5), (5, 7), (7, 9), (1, 2), (2, 3), (3, 5),
         (20, 21), (30, 30), (40, 41), (41, 42), (40, 42)],
        "src long, dst long",
    )
    calls = []
    real = graph._driver_components
    monkeypatch.setattr(
        graph,
        "_driver_components",
        lambda e, table: calls.append(1) or real(e, table),
    )

    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 0)
    dist = graph.connected_components(edges)
    dist_rows = sorted((r["node"], r["label"]) for r in dist.collect())
    assert calls == []  # gate 0 → distributed loop

    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 500_000)
    drv = graph.connected_components(edges)
    drv_rows = sorted((r["node"], r["label"]) for r in drv.collect())
    assert calls == [1]  # small integral edge list → driver path

    assert drv_rows == dist_rows
    assert drv.schema == dist.schema


def test_cc_driver_gate_falls_back_when_exceeded(spark, monkeypatch):
    from relational_query_engine_sql_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    calls = []
    real = graph._driver_components
    monkeypatch.setattr(
        graph,
        "_driver_components",
        lambda e, table: calls.append(1) or real(e, table),
    )
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 2)
    got = {
        (r["node"], r["label"])
        for r in graph.connected_components(edges).collect()
    }
    assert calls == []  # 3 edges > gate 2 → distributed
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


# -- banded range join ------------------------------------------------------


def _naive_range_join(points, intervals, pt, st, en):
    return intervals.join(
        points, (points[pt] >= intervals[st]) & (points[pt] < intervals[en])
    )


def test_banded_range_join_matches_naive(spark):
    points = spark.createDataFrame(
        [(i, f"2024-01-01 {h:02d}:{m:02d}:00") for i, (h, m) in enumerate(
            [(0, 0), (0, 59), (1, 0), (2, 30), (5, 45), (23, 59)]
        )],
        "pid long, ts_s string",
    ).select("pid", F.col("ts_s").cast("timestamp").alias("ts"))
    intervals = spark.createDataFrame(
        [
            ("2024-01-01 00:00:00", "2024-01-01 01:00:00"),  # [0,1)
            ("2024-01-01 00:30:00", "2024-01-01 02:31:00"),  # overlaps
            ("2024-01-01 10:00:00", "2024-01-01 11:00:00"),  # empty
        ],
        "s string, e string",
    ).select(
        F.col("s").cast("timestamp").alias("w_start"),
        F.col("e").cast("timestamp").alias("w_end"),
    )
    for band in (60, 3600, 86400):  # narrow, matched, wide
        got = sorted(
            (r["w_start"], r["pid"])
            for r in banded_range_join(
                points, intervals, "ts", "w_start", "w_end", band
            ).collect()
        )
        want = sorted(
            (r["w_start"], r["pid"])
            for r in _naive_range_join(
                points, intervals, "ts", "w_start", "w_end"
            ).collect()
        )
        assert got == want, band
    # boundary semantics: start inclusive, end exclusive
    pairs = {
        (str(r["w_start"]), r["pid"])
        for r in banded_range_join(
            points, intervals, "ts", "w_start", "w_end", 3600
        ).collect()
    }
    assert ("2024-01-01 00:00:00", 0) in pairs  # ts == start kept
    assert ("2024-01-01 00:00:00", 2) not in pairs  # ts == end dropped


def test_banded_range_join_is_hash_join_not_bnlj(spark):
    points = spark.range(100).select(
        F.col("id").alias("pid"),
        (F.lit("2024-01-01").cast("timestamp") + F.make_interval(
            mins=F.col("id").cast("int")
        )).alias("ts"),
    )
    intervals = spark.createDataFrame(
        [("2024-01-01 00:10:00", "2024-01-01 00:40:00")], "s string, e string"
    ).select(
        F.col("s").cast("timestamp").alias("w_start"),
        F.col("e").cast("timestamp").alias("w_end"),
    )
    plan = banded_range_join(
        points, intervals, "ts", "w_start", "w_end", 600
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# -- chunking ---------------------------------------------------------------


def _mkdocs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_chunking_windows_and_overlap(spark):
    words = " ".join(f"w{i}" for i in range(120))
    out = chunk_documents(
        _mkdocs(spark, [words]), size=50, overlap=10
    ).collect()
    # starts 0, 40, 80 → 3 chunks; last has 40 tokens
    assert [(r["chunk_id"], r["n_tokens"]) for r in sorted(
        out, key=lambda r: r["chunk_id"]
    )] == [(0, 50), (1, 50), (2, 40)]
    by_id = {r["chunk_id"]: r["chunk_text"].split(" ") for r in out}
    assert by_id[0] == [f"w{i}" for i in range(50)]
    assert by_id[1][:10] == [f"w{i}" for i in range(40, 50)]  # overlap kept


def test_chunking_short_doc_single_window(spark):
    out = chunk_documents(_mkdocs(spark, ["a b c"]), size=50, overlap=10).collect()
    assert len(out) == 1
    assert out[0]["n_tokens"] == 3
    assert out[0]["chunk_text"] == "a b c"


def test_chunking_suppresses_suffix_only_tail(spark):
    # 45 tokens, size 50 step 40: start 40 would add a 5-token chunk
    # fully inside [0,50) coverage with only 5 <= overlap new... rule:
    # kept only if n - start > overlap (45 - 40 = 5 <= 10 → dropped).
    words = " ".join(f"w{i}" for i in range(45))
    out = chunk_documents(_mkdocs(spark, [words]), size=50, overlap=10).collect()
    assert len(out) == 1


# -- property-based invariants ----------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import PROP_EXAMPLES


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return {n: min(m for m in nodes if find(m) == find(n)) for n in nodes}


@settings(
    max_examples=PROP_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_cc_matches_union_find(spark, edges):
    from relational_query_engine_sql_spark.operators.graph import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["node"], r["label"])
        for r in connected_components(df, max_iter=64).collect()
    }
    nodes = {a for a, b in edges if a != b} | {b for a, b in edges if a != b}
    want = set(_uf_components([e for e in edges if e[0] != e[1]], nodes).items())
    assert got == want


@settings(
    max_examples=PROP_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.integers(min_value=0, max_value=5000), min_size=1, max_size=30
    ),
    spans=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5000),
            st.integers(min_value=1, max_value=2000),
        ),
        min_size=1,
        max_size=10,
    ),
    band=st.sampled_from([60, 600, 3600]),
)
def test_range_join_matches_naive_property(spark, pts, spans, band):
    from pyspark.sql import functions as F

    from relational_query_engine_sql_spark.operators.rangejoin import (
        banded_range_join,
    )

    base = "2024-03-01 00:00:00"
    points = spark.createDataFrame(
        [(i, s) for i, s in enumerate(pts)], "pid long, off long"
    ).select(
        "pid",
        (F.lit(base).cast("timestamp") + F.make_interval(
            secs=F.col("off").cast("double")
        )).alias("ts"),
    )
    intervals = spark.createDataFrame(
        spans, "s long, d long"
    ).select(
        (F.lit(base).cast("timestamp") + F.make_interval(
            secs=F.col("s").cast("double")
        )).alias("w_start"),
        (F.lit(base).cast("timestamp") + F.make_interval(
            secs=(F.col("s") + F.col("d")).cast("double")
        )).alias("w_end"),
    )
    got = sorted(
        (str(r["w_start"]), r["pid"])
        for r in banded_range_join(
            points, intervals, "ts", "w_start", "w_end", band
        ).collect()
    )
    want = sorted(
        (str(r["w_start"]), r["pid"])
        for r in intervals.join(
            points,
            (points["ts"] >= intervals["w_start"])
            & (points["ts"] < intervals["w_end"]),
        ).collect()
    )
    assert got == want


@settings(
    max_examples=PROP_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_words=st.integers(min_value=1, max_value=200),
    size=st.integers(min_value=2, max_value=60),
    overlap_frac=st.floats(min_value=0.0, max_value=0.9),
)
def test_chunking_reconstructs_document(spark, n_words, size, overlap_frac):
    from relational_query_engine_sql_spark.datapipe.chunking import (
        chunk_documents,
    )

    overlap = min(int(size * overlap_frac), size - 1)
    step = size - overlap
    words = [f"w{i}" for i in range(n_words)]
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    rows = sorted(
        chunk_documents(docs, size=size, overlap=overlap).collect(),
        key=lambda r: r["chunk_id"],
    )
    # stitching each chunk's post-overlap suffix onto the first chunk
    # reproduces the document exactly — no token lost or duplicated.
    rebuilt = rows[0]["chunk_text"].split(" ")
    for r in rows[1:]:
        toks = r["chunk_text"].split(" ")
        start = r["chunk_id"] * step
        rebuilt = rebuilt[: start] + toks
    assert rebuilt == words
    # every chunk except the last is exactly `size` tokens
    for r in rows[:-1]:
        assert r["n_tokens"] == size
