"""TxnLogTable: the Delta-protocol-shaped file-level copy-on-write
backend (operators/txnlog.py). Three properties matter:

1. PARITY — every mutation produces exactly the rows ParquetTable's
   full-rewrite backend produces (same scenario, both backends, sorted
   rows equal).
2. PRUNING — a keyed write rewrites only the files whose key range can
   contain the incoming keys; everything else survives by file
   identity (the 100 TB property: a 10-row upsert is not a 100 TB
   rewrite).
3. PROTOCOL — CAS commits conflict correctly, time travel replays any
   retained snapshot, checkpoints don't change replay results, vacuum
   deletes only unreferenced files.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from relational_query_engine_sql_spark.operators.mutation import (
    CommitConflict,
    ParquetTable,
)
from relational_query_engine_sql_spark.operators.txnlog import (
    LocalCommitBackend,
    ObjectStoreCommitBackend,
    TxnLogTable,
)

# Contention/protocol tests run against BOTH commit backends: POSIX
# O_EXCL and the object-store conditional-PUT model — the CAS
# guarantees must hold identically (the 100 TB deployment target is an
# object store, where the POSIX semantics don't exist).
BACKENDS = pytest.mark.parametrize(
    "make_backend",
    [LocalCommitBackend, ObjectStoreCommitBackend],
    ids=["posix", "objectstore"],
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("val", T.DoubleType()),
    ]
)


def _rows(spark, pairs):
    return spark.createDataFrame(
        [(int(k), g, float(v)) for k, g, v in pairs], SCHEMA
    )


@pytest.fixture()
def base(spark):
    return _rows(
        spark, [(i, "even" if i % 2 == 0 else "odd", i * 1.0) for i in range(100)]
    )


def _collect(t):
    return sorted(tuple(r) for r in t.read().collect())


def test_mutation_parity_with_full_rewrite_backend(spark, base, tmp_path):
    """The same mutation script on both backends ends in identical
    tables at every step."""
    a = ParquetTable(spark, str(tmp_path / "a"), SCHEMA, ["k"])
    b = TxnLogTable(spark, str(tmp_path / "b"), SCHEMA, ["k"])
    for t in (a, b):
        t.init(base)

    steps = [
        lambda t: t.append(_rows(spark, [(200, "new", 1.0), (201, "new", 2.0)])),
        lambda t: t.insert_ignore(
            _rows(spark, [(0, "dupe", -1.0), (300, "new", 3.0)])
        ),
        lambda t: t.upsert(
            _rows(spark, [(1, "upd", 11.0), (400, "ins", 4.0)])
        ),
        lambda t: t.update(
            F.col("grp") == "even", {"val": F.col("val") + 1000.0}
        ),
        lambda t: t.delete(F.col("k").between(90, 99)),
        lambda t: t.delete_keys(
            _rows(spark, [(2, "x", 0.0), (4, "x", 0.0)]).select("k")
        ),
        lambda t: t.merge(
            _rows(spark, [(3, "merged", 33.0), (500, "merged", 55.0)]),
            update_assign={"grp": F.lit("merged"), "val": F.col("_s_val")},
            delete_cond=F.col("k") == 500,
        ),
        # NULL semantics: NULL-valued rows land in the SAME file as a
        # genuine delete match, so the file-targeted rewrite must keep
        # the NULL-predicate rows while dropping the match (NULL is
        # not TRUE) — the three-valued-logic spot this test originally
        # caught as a live bug in filter(~condition)
        lambda t: t.append(
            spark.createDataFrame(
                [(699, "neg", -5.0), (700, None, None), (701, "nv", None)],
                SCHEMA,
            ).coalesce(1)
        ),
        lambda t: t.update(
            F.col("val") > 1e5, {"grp": F.lit("rich")}
        ),
        lambda t: t.delete(F.col("val") < 0),
        lambda t: t.compact(2),
    ]
    for i, step in enumerate(steps):
        step(a)
        step(b)
        assert _collect(a) == _collect(b), f"diverged at step {i}"
    # merge: k=3 updated, k=500 insert branch (unmatched → insert, the
    # delete_cond only applies to matched rows)
    final = dict(((r[0]), (r[1], r[2])) for r in _collect(b))
    assert final[3] == ("merged", 33.0)
    assert 500 in final
    # NULL-predicate rows survived the delete, the true match did not
    assert 700 in final and 701 in final and 699 not in final


def test_keyed_write_rewrites_only_overlapping_files(spark, tmp_path):
    """Three appends land three disjoint key-range file sets; an
    upsert inside ONE range must remove/add only in that range —
    the other files survive by identity."""
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    for lo in (0, 1000, 2000):
        t.append(
            _rows(spark, [(lo + i, "g", 1.0) for i in range(100)]).coalesce(1)
        )
    before = set(t._live())
    assert len(before) == 3
    low_files = {
        p
        for p, m in t._live().items()
        if m["stats"] and m["stats"]["k"][0] < 1000
    }
    assert len(low_files) == 1

    t.upsert(_rows(spark, [(5, "upd", 9.0), (7, "upd", 9.0)]))
    after = set(t._live())
    # the two non-overlapping files are still live, untouched
    assert (before - low_files) <= after
    # the low-range file was rewritten away
    assert not (low_files & after)
    assert t.read().filter(F.col("grp") == "upd").count() == 2
    assert t.read().count() == 300


def test_append_adds_files_without_rewrite(spark, base, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base)
    before = set(t._live())
    t.append(_rows(spark, [(999, "new", 9.0)]))
    after = set(t._live())
    assert before <= after and len(after) > len(before)


@BACKENDS
def test_cas_conflict_and_retry(spark, base, tmp_path, make_backend):
    t = TxnLogTable(
        spark, str(tmp_path / "t"), SCHEMA, ["k"],
        commit_backend=make_backend(),
    )
    t.init(base)
    v = t.current_version()
    t.commit_as(t.read().filter(F.col("k") < 50), v)
    with pytest.raises(CommitConflict):
        t.commit_as(t.read(v).filter(F.col("k") >= 50), v)
    # the loser's rebase path: re-derive from the new head
    got = t.modify_with_retry(lambda df: df.filter(F.col("k") < 10))
    assert got == t.current_version()
    assert t.read().count() == 10


def test_time_travel_and_history(spark, base, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base)  # v0
    t.delete(F.col("k") >= 50)  # v1
    t.upsert(_rows(spark, [(0, "zero", 0.5)]))  # v2
    assert t.read(0).count() == 100
    assert t.read(1).count() == 50
    assert t.read().filter(F.col("grp") == "zero").count() == 1
    ops = [h["op"] for h in t.history()]
    assert ops == ["init", "delete", "upsert"]
    with pytest.raises(ValueError, match="no such version"):
        t.read(99)


def test_checkpoint_replay_matches_incremental(
    spark, base, tmp_path, monkeypatch
):
    """Cross CHECKPOINT_EVERY commits with schema, constraint, txn
    marker, column-mapping and row-tracking changes; at every version
    the checkpoint-seeded replay must yield the same WHOLE table state
    as a from-zero replay. Each replay runs on a fresh table, so no
    cached snapshot stands in for either. CHECKPOINT_EVERY is lowered
    to 3 so crossing it costs 3 commits, not 10 — the property is the
    crossing, not the cadence."""
    from collections import Counter

    import relational_query_engine_sql_spark.operators.txnlog as txn

    monkeypatch.setattr(txn, "CHECKPOINT_EVERY", 3)
    path = str(tmp_path / "t")
    t = TxnLogTable(spark, path, SCHEMA, ["k"])
    t.enable_row_tracking()  # v0
    t.init(base)  # v1
    t.upsert(_rows(spark, [(0, "u0", 0.0)]))  # v2
    t.add_columns({"note": "string"})  # v3: checkpoint
    t.add_constraint("nonneg", "val >= 0")  # v4
    assert t.append_once(
        _rows(spark, [(1000, "u1", 1.0)]).withColumn("note", F.lit("x")),
        "app",
        7,
    )  # v5
    t.upsert(
        _rows(spark, [(2, "u2", 2.0)]).withColumn("note", F.lit("y"))
    )  # v6: checkpoint
    t.append(
        _rows(spark, [(1001, "n", 3.0)]).withColumn("note", F.lit("z"))
    )  # v7
    head = t.current_version()
    assert head == 7
    ckpts = sorted(
        f
        for f in os.listdir(t._log_dir())
        if f.endswith(".checkpoint.json")
    )
    assert ckpts == [os.path.basename(t._ckpt_path(v)) for v in (3, 6)]
    assert set(t._ckpt_payload(6)) == {
        "live", "schema", "constraints", "txn", "cmap", "rowid"
    }

    reads: Counter = Counter()
    real_entry = TxnLogTable._entry

    def counting_entry(self, v):
        reads[v] += 1
        return real_entry(self, v)

    monkeypatch.setattr(TxnLogTable, "_entry", counting_entry)

    def states():
        # newest first, so each version seeds from its own checkpoint
        # (or from zero), never from an older version's cached state
        fresh = TxnLogTable(spark, path, SCHEMA, ["k"])
        return {
            v: (
                fresh._live(v),
                fresh._schema_at(v),
                fresh._cmap_at(v),
                fresh.constraints(v),
                fresh._txn_markers(v),
                fresh._row_id_bases(v),
            )
            for v in range(head, -1, -1)
        }

    from_ckpt = states()
    assert reads[3] == reads[6] == 0 and reads[7] == 1  # seeded
    reads.clear()
    for c in ckpts:  # replay from zero by hiding the checkpoint files
        os.rename(
            os.path.join(t._log_dir(), c), os.path.join(t._log_dir(), c + ".bak")
        )
    from_zero = states()
    for c in ckpts:
        os.rename(
            os.path.join(t._log_dir(), c + ".bak"), os.path.join(t._log_dir(), c)
        )
    assert reads[0] == head + 1  # every version replayed from v0
    assert from_ckpt == from_zero
    live, schema, cmap, cons, markers, (bases, hwm) = from_zero[head]
    assert schema.fieldNames() == ["k", "grp", "val", "note"]
    assert cmap.get("row_tracking") is True
    assert cons == {"nonneg": "val >= 0"}
    assert markers == {"app": 7}
    assert live and bases and hwm >= 100  # init's rows took lazy ids
    assert t.read().filter(F.col("grp").startswith("u")).count() == 3


def test_vacuum_removes_only_unreferenced_files(spark, base, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base)
    t.compact(1)  # v1 rewrites everything → v0's files unreferenced
    t.append(_rows(spark, [(999, "new", 9.0)]))  # v2
    live_now = set(t._live())
    removed = t.vacuum(keep_last=2)  # keeps v1, v2
    assert removed, "vacuum removed nothing"
    assert not (set(removed) & live_now)
    for rel in live_now:
        assert os.path.exists(os.path.join(t.path, rel))
    # current read unaffected; vacuumed snapshot fails loudly
    assert t.read().count() == 101
    with pytest.raises(Exception):
        t.read(0).count()


def test_zero_row_parts_never_enter_the_log(spark, base, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    # 8-partition write of 3 rows → most part files empty
    t.init(_rows(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]).repartition(8))
    assert all(m["rows"] > 0 for m in t._live().values())
    assert t.read().count() == 3


@BACKENDS
def test_concurrent_writers_serialize_through_cas(
    spark, base, tmp_path, make_backend
):
    """Two real threads hammer modify_with_retry concurrently (each
    increments a disjoint key range 5 times). The CAS log must
    serialize them: versions stay gapless 0..10, every commit lands,
    and the final table carries BOTH writers' full increment sets —
    no lost update, the anomaly the protocol exists to prevent."""
    from concurrent.futures import ThreadPoolExecutor

    t = TxnLogTable(
        spark, str(tmp_path / "t"), SCHEMA, ["k"],
        commit_backend=make_backend(),
    )
    t.init(base)  # v0, vals 0..99

    def writer(mod: int):
        def bump(df):
            return df.withColumn(
                "val",
                F.when(
                    F.col("k") % 2 == mod, F.col("val") + 1.0
                ).otherwise(F.col("val")),
            )

        for _ in range(5):
            t.modify_with_retry(bump, max_retries=20)

    with ThreadPoolExecutor(max_workers=2) as ex:
        futs = [ex.submit(writer, m) for m in (0, 1)]
        for f in futs:
            f.result()  # surface any CommitConflict exhaustion

    assert t.versions() == list(range(11))  # gapless: 10 commits + init
    rows = {r["k"]: r["val"] for r in t.read().collect()}
    for k in range(100):
        assert rows[k] == k * 1.0 + 5.0, (k, rows[k])


def test_schema_evolution_metadata_only_commit(spark, base, tmp_path):
    """ALTER TABLE ADD COLUMNS as a metadata-only commit: zero files
    rewritten, old files read the new column as NULL, new writes carry
    it, and time travel to a pre-evolution version shows that era's
    schema."""
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base)  # v0
    files_before = set(t._live())
    v = t.add_columns({"score": "double"})  # v1: metadata only
    assert v == 1
    assert set(t._live()) == files_before  # no data churn

    assert t.schema.fieldNames() == ["k", "grp", "val", "score"]
    assert t.read().filter(F.col("score").isNull()).count() == 100

    # new writes carry the column; old rows keep NULL
    t.upsert(
        spark.createDataFrame([(1, "upd", 1.0, 9.5)], t.schema)
    )
    got = {r["k"]: r["score"] for r in t.read().collect()}
    assert got[1] == 9.5 and got[2] is None

    # pre-evolution time travel: old schema, old width
    old = t.read(0)
    assert old.schema.fieldNames() == ["k", "grp", "val"]
    assert old.count() == 100

    # duplicate add fails loudly
    import pytest as _pt

    with _pt.raises(ValueError, match="column exists"):
        t.add_columns({"score": "double"})


def test_schema_evolution_survives_checkpoint_replay(
    spark, base, tmp_path, monkeypatch
):
    """Metadata actions live only in the log; a checkpoint written
    AFTER evolution must not lose the schema (checkpoints carry the
    file set, the schema walk reads commits). CHECKPOINT_EVERY lowered
    to 3: the property is a checkpoint landing after the metadata
    commit, not the cadence."""
    import relational_query_engine_sql_spark.operators.txnlog as txn

    monkeypatch.setattr(txn, "CHECKPOINT_EVERY", 3)
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base)
    t.add_columns({"extra": "string"})  # v1
    for i in range(2):  # v3 crosses the (patched) CHECKPOINT_EVERY
        t.upsert(
            spark.createDataFrame([(i, "u", 0.0, f"x{i}")], t.schema)
        )
    assert t.current_version() == 3
    assert os.path.exists(t._ckpt_path(3)), "no checkpoint after evolution"
    assert t.schema.fieldNames()[-1] == "extra"
    rows = {r["k"]: r["extra"] for r in t.read().collect()}
    assert rows[1] == "x1" and rows[50] is None


def test_clustered_compaction_tightens_pruning(spark, tmp_path):
    """Hash-mixed appends give every file a near-full key range, so a
    keyed upsert must rewrite everything; compact(cluster_by=key)
    range-sorts the rewrite so file ranges become disjoint and the
    same upsert prunes to ONE file — stats skipping and layout
    composing, the lakehouse OPTIMIZE ZORDER effect."""
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    # 4 hash-mixed appends: each carries keys spanning ~the full range
    for m in range(4):
        t.append(
            _rows(
                spark,
                [(i * 4 + m, "g", 1.0) for i in range(250)],
            ).coalesce(1)
        )
    # range-only view: every file overlaps key 500 (the bloom masks
    # would already prune this point probe to the owner file — that
    # path has its own tests; this one is about stats + layout)
    wide = t._affected(
        spark.createDataFrame([(500,)], "k long").select("k"),
        use_bloom=False,
    )
    assert len(wide) == 4  # every file overlaps key 500

    t.compact(4, cluster_by=["k"])
    ranges = sorted(
        tuple(m["stats"]["k"]) for m in t._live().values() if m["stats"]
    )
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # disjoint file ranges after clustering
    narrow = t._affected(
        spark.createDataFrame([(500,)], "k long").select("k"),
        use_bloom=False,
    )
    assert len(narrow) == 1  # now prunes to a single file
    assert t.read().count() == 1000


# -- randomized cross-backend parity -----------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import PROP_EXAMPLES

_OPS = st.lists(
    st.tuples(
        st.sampled_from(
            ["append", "upsert", "delete_cond", "delete_keys",
             "delete_deferred", "update", "insert_ignore", "compact"]
        ),
        st.integers(min_value=0, max_value=999),
    ),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=min(PROP_EXAMPLES, 2),  # each example ≈ 8 Spark jobs
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
def test_random_mutation_sequence_parity(spark, tmp_path_factory, ops):
    """Any random mutation sequence must leave both backends with
    identical rows — the deterministic parity test caught a live
    NULL-DELETE bug; this hunts order-dependent ones (pruning after
    compaction, upsert-after-delete on skipped files, NULL rows
    surviving arbitrary predicate mixes)."""
    base = _rows(
        spark,
        [(i, "even" if i % 2 == 0 else "odd", float(i)) for i in range(60)],
    ).unionByName(
        spark.createDataFrame([(900, None, None), (901, "nv", None)], SCHEMA)
    )
    root = tmp_path_factory.mktemp("randpar")
    a = ParquetTable(spark, str(root / "a"), SCHEMA, ["k"])
    b = TxnLogTable(spark, str(root / "b"), SCHEMA, ["k"])
    for t in (a, b):
        t.init(base)

    def apply(t, op, x):
        if op == "append":
            t.append(_rows(spark, [(1000 + x, "app", float(x))]))
        elif op == "upsert":
            t.upsert(_rows(spark, [(x % 80, "ups", float(x))]))
        elif op == "delete_cond":
            t.delete(F.col("val") < float(x % 50))
        elif op == "delete_keys":
            t.delete_keys(
                spark.createDataFrame([(x % 80,)], "k long")
            )
        elif op == "delete_deferred":
            # MOR on the txnlog backend, eager on ParquetTable — the
            # end states must be identical (the resurrect-on-revive
            # bug class lives exactly here)
            keys = spark.createDataFrame([(x % 80,)], "k long")
            if isinstance(t, TxnLogTable):
                t.delete_keys_deferred(keys)
            else:
                t.delete_keys(keys)
        elif op == "update":
            t.update(
                F.col("k") % 7 == x % 7, {"val": F.col("val") + 0.5}
            )
        elif op == "insert_ignore":
            t.insert_ignore(
                _rows(spark, [(x % 80, "ign", -1.0), (2000 + x, "ign", 1.0)])
            )
        elif op == "compact":
            t.compact(2)

    for op, x in ops:
        apply(a, op, x)
        apply(b, op, x)
    assert _collect(a) == _collect(b), f"diverged after {ops}"


# -- merge-on-read deletion vectors ------------------------------------------


def test_deferred_delete_is_metadata_only_and_read_applies_it(
    spark, base, tmp_path
):
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base)
    data_before, _ = t._split_live()
    t.delete_keys_deferred(
        spark.createDataFrame([(3,), (7,), (11,)], "k long")
    )
    data_after, dvs = t._split_live()
    assert data_after == data_before  # zero data files touched
    assert len(dvs) >= 1
    got = {r["k"] for r in t.read().collect()}
    assert got == set(range(100)) - {3, 7, 11}
    # time travel BEFORE the delete still sees everything
    assert t.read(0).count() == 100


def test_write_of_tombstoned_key_resurrects_it_exactly_once(
    spark, base, tmp_path
):
    """The resurrect hazard: upsert/append/insert_ignore of a DV'd key
    must atomically shrink the DV — the new row is visible, exactly
    once, and other tombstones stay."""
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base)
    t.delete_keys_deferred(
        spark.createDataFrame([(5,), (6,)], "k long")
    )
    t.upsert(_rows(spark, [(5, "back", 55.0)]))
    rows = {r["k"]: (r["grp"], r["val"]) for r in t.read().collect()}
    assert rows[5] == ("back", 55.0)  # resurrected, once
    assert 6 not in rows  # unrelated tombstone intact
    assert t.read().count() == 99

    # insert_ignore treats a DV-deleted key as absent
    n = t.insert_ignore(_rows(spark, [(6, "back6", 66.0)]))
    assert n == 1
    assert t.read().filter(F.col("k") == 6).count() == 1


def test_rewrites_never_rematerialize_tombstoned_rows(spark, base, tmp_path):
    """A CoW rewrite over a region with tombstones must not carry the
    zombie rows into the new file (they would resurrect as DUPLICATES
    when a later write shrinks the DV)."""
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base.coalesce(1))  # one file: every rewrite covers key 5
    t.delete_keys_deferred(spark.createDataFrame([(5,)], "k long"))
    t.upsert(_rows(spark, [(50, "upd", 1.0)]))  # rewrite same file
    # now resurrect key 5 — exactly one row may appear
    t.append(_rows(spark, [(5, "back", 5.5)]))
    assert t.read().filter(F.col("k") == 5).count() == 1


def test_compact_materializes_deletes_and_clears_dvs(spark, base, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base)
    t.delete_keys_deferred(
        spark.createDataFrame([(1,), (2,)], "k long")
    )
    t.compact(2)
    data, dvs = t._split_live()
    assert not dvs  # tombstones applied and dropped
    assert len(data) == 2
    assert t.read().count() == 98
    got = {r["k"] for r in t.read().collect()}
    assert 1 not in got and 2 not in got


def test_deferred_delete_parity_with_cow_delete(spark, base, tmp_path):
    """MOR and CoW deletes converge to identical tables."""
    a = TxnLogTable(spark, str(tmp_path / "a"), SCHEMA, ["k"])
    b = TxnLogTable(spark, str(tmp_path / "b"), SCHEMA, ["k"])
    keys = spark.createDataFrame([(10,), (20,), (30,)], "k long")
    for t in (a, b):
        t.init(base)
    a.delete_keys(keys)
    b.delete_keys_deferred(keys)
    assert _collect(a) == _collect(b)
    # and after each mutates further identically
    for t in (a, b):
        t.upsert(_rows(spark, [(20, "back", 2.0), (40, "upd", 4.0)]))
    assert _collect(a) == _collect(b)


def test_direct_revive_of_tombstoned_key_never_duplicates(
    spark, base, tmp_path
):
    """Regression: append/insert_ignore of a MOR-deleted key with NO
    intervening rewrite. A bare DV shrink would resurrect the old
    masked row next to the new one (duplicate key); the revive must
    purge it in the same commit."""
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base.coalesce(1))
    t.delete_keys_deferred(
        spark.createDataFrame([(5,), (6,)], "k long")
    )
    t.append(_rows(spark, [(5, "back", 5.5)]))  # straight after the DV
    got = {r["k"]: (r["grp"], r["val"]) for r in t.read().collect()}
    assert got[5] == ("back", 5.5)
    assert 6 not in got  # unrelated tombstone still applies
    assert t.read().count() == 99

    n = t.insert_ignore(_rows(spark, [(6, "back6", 66.0)]))
    assert n == 1
    assert t.read().filter(F.col("k") == 6).count() == 1
    assert t.read().count() == 100
    # history is still replayable at every version
    assert t.read(0).count() == 100
    assert t.read(1).count() == 98


# -- commit backend / snapshot-pinning protocol -------------------------------


@BACKENDS
def test_intervening_commit_raises_instead_of_lost_update(
    spark, base, tmp_path, make_backend
):
    """The lost-update window: a commit that OVERLAPS a mutation's
    read set landing between its snapshot read and its commit MUST
    surface as CommitConflict, not be silently built over (the stale
    snapshot would re-materialize the rival's deleted/updated rows).
    The table is a single file so the rival's delete provably removes
    a file the upsert read (file-DISJOINT rivals are the rebase case
    — test_disjoint_keyed_writes_rebase_without_conflict). A rival
    commit is injected inside the window by wrapping _write_files."""
    backend = make_backend()  # both handles talk to the same store
    t = TxnLogTable(
        spark, str(tmp_path / "t"), SCHEMA, ["k"], commit_backend=backend
    )
    t.init(base.coalesce(1))  # ONE file: rival and t must collide
    rival = TxnLogTable(
        spark, str(tmp_path / "t"), SCHEMA, ["k"], commit_backend=backend
    )

    real = t._write_files
    fired = {"done": False}

    def inject_then_write(df, dv=False):
        if not fired["done"]:
            fired["done"] = True
            rival.delete_keys(
                spark.createDataFrame([(99,)], "k long")
            )  # lands inside t's read->commit window
        return real(df, dv=dv)

    t._write_files = inject_then_write
    with pytest.raises(CommitConflict):
        t.upsert(_rows(spark, [(0, "mine", -1.0)]))
    t._write_files = real
    # the rival's delete survived — nothing was lost
    assert t.read().filter(F.col("k") == 99).count() == 0
    # and the loser's rebase (plain re-invoke) lands cleanly
    t.upsert(_rows(spark, [(0, "mine", -1.0)]))
    got = {r["k"]: r["grp"] for r in t.read().collect()}
    assert got[0] == "mine" and 99 not in got


def _race_put(args):
    # module-level so it pickles for multiprocessing
    from relational_query_engine_sql_spark.operators.txnlog import (
        LocalCommitBackend,
    )

    path, payload = args
    return LocalCommitBackend().put_if_absent(path, payload)


def test_commit_backend_cas_across_processes(tmp_path):
    """The CAS primitive itself, raced by REAL separate processes (not
    threads): exactly one winner per log path, and the surviving
    payload is the winner's."""
    import multiprocessing as mp

    log = str(tmp_path / "00000000000000000001.json")
    with mp.Pool(8) as pool:
        results = pool.map(
            _race_put, [(log, f"payload-{i}") for i in range(8)]
        )
    assert sum(results) == 1
    winner = results.index(True)
    with open(log, encoding="utf-8") as f:
        assert f.read() == f"payload-{winner}"


def test_checkpoint_publish_is_atomic_under_crash(
    spark, base, tmp_path, monkeypatch
):
    """A crash mid-checkpoint must leave NO checkpoint file at all
    (readers fall back to full log replay), never a torn one that
    would make every later version unreadable."""
    import relational_query_engine_sql_spark.operators.txnlog as txn

    monkeypatch.setattr(txn, "CHECKPOINT_EVERY", 3)
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base)
    monkeypatch.setattr(
        os, "rename", lambda *a, **k: (_ for _ in ()).throw(OSError("crash"))
    )
    with pytest.raises(OSError):
        for i in range(3):  # v3 crosses the (patched) CHECKPOINT_EVERY
            t.upsert(_rows(spark, [(i, "u", 0.0)]))
    monkeypatch.undo()
    ckpts = [
        f for f in os.listdir(t._log_dir()) if f.endswith(".checkpoint.json")
    ]
    assert not ckpts  # no torn checkpoint published
    # the commit itself landed; replay works from the log alone
    assert t.current_version() == 3
    assert t.read().count() == 100


def test_composite_key_stats_prune_on_second_column(spark, tmp_path):
    """Multi-column file stats: files sharing one symbol but split by
    timestamp ranges must prune on the SECOND key column too (the
    reference's (symbol, timestamp) Stocks PK shape)."""
    schema = T.StructType(
        [
            T.StructField("sym", T.StringType()),
            T.StructField("ts", T.LongType()),
            T.StructField("px", T.DoubleType()),
        ]
    )
    t = TxnLogTable(spark, str(tmp_path / "t"), schema, ["sym", "ts"])
    for lo in (0, 1000, 2000):  # same symbol, disjoint ts ranges
        t.append(
            spark.createDataFrame(
                [("AAPL", lo + i, 1.0) for i in range(100)], schema
            ).coalesce(1)
        )
    # first-key stats alone cannot prune (every file is all-AAPL);
    # the ts range must do it
    probe = spark.createDataFrame([("AAPL", 1050)], schema[:2])
    hit = t._affected(probe)
    assert len(hit) == 1
    stats = next(iter(t._live().values()))["stats"]
    # key columns always lead the stats; prunable non-key columns
    # (px) are indexed too since the data-skipping-scan widening
    assert set(stats) >= {"sym", "ts"} and "px" in stats


def test_decimal_key_stats_stay_prunable(spark, tmp_path):
    """Decimal keys used to disable pruning entirely (string order is
    wrong for numerics); the tagged-Decimal stats restore exact
    pruning for money-keyed tables."""
    import decimal as _d

    schema = T.StructType(
        [
            T.StructField("amt", T.DecimalType(12, 2)),
            T.StructField("v", T.LongType()),
        ]
    )
    t = TxnLogTable(spark, str(tmp_path / "t"), schema, ["amt"])
    for lo in (0, 1000):
        t.append(
            spark.createDataFrame(
                [(_d.Decimal(f"{lo + i}.25"), 1) for i in range(100)], schema
            ).coalesce(1)
        )
    # the "99" < "100" string-order trap: probe 99.25 must hit ONLY
    # the low file
    probe = spark.createDataFrame([(_d.Decimal("99.25"),)], schema[:1])
    assert len(t._affected(probe)) == 1
    t.upsert(
        spark.createDataFrame([(_d.Decimal("99.25"), 999)], schema)
    )
    assert t.read().filter(F.col("v") == 999).count() == 1
    assert t.read().count() == 200


def test_bloom_lookup_never_misses_and_prunes(spark, tmp_path):
    """Bloom candidates must cover every present key (no false
    negatives — correctness) and, on a hash-shuffled layout where
    every file spans nearly the full key range, prune strictly more
    than min/max stats can (the point of the index)."""
    rows = _rows(
        spark, [(i, f"g{i % 7}", i * 1.0) for i in range(2000)]
    )
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    # shuffle by a NON-key column: ranges overlap, range-prune is useless
    t.init(rows.repartition(8, "val"))
    n_files = t.file_count()
    assert n_files >= 6, n_files

    probe = [0, 777, 1999]
    cands = t.lookup_candidates(probe)
    range_only = len(t._affected(_rows(
        spark, [(k, "x", 0.0) for k in probe]
    ).select("k"), use_bloom=False))
    assert range_only == n_files  # every file's range admits the probes
    assert 0 < len(cands) < n_files, cands

    got = sorted(r["k"] for r in t.lookup(probe).collect())
    assert got == probe

    # absent keys: bloom may false-positive a file, but the final
    # filter returns nothing
    assert t.lookup([999_999]).count() == 0


def test_bloom_lookup_respects_deletion_vectors(spark, tmp_path):
    """A key tombstoned merge-on-read must not resurrect through the
    pruned lookup path."""
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(_rows(spark, [(i, "g", float(i)) for i in range(50)]))
    t.delete_keys_deferred(_rows(spark, [(7, "g", 0.0)]).select("k"))
    assert t.lookup([7]).count() == 0
    assert t.lookup([8]).count() == 1


def test_bloom_survives_checkpoint_replay(spark, tmp_path, monkeypatch):
    """The bloom mask must ride checkpoints like stats do: after a
    checkpointed history, lookups still prune below the file count."""
    import relational_query_engine_sql_spark.operators.txnlog as txn

    monkeypatch.setattr(txn, "CHECKPOINT_EVERY", 2)
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(_rows(spark, [(i, f"g{i % 5}", float(i)) for i in range(500)])
           .repartition(4, "grp"))
    for v in range(4):  # force several commits past a checkpoint
        t.append(_rows(spark, [(10_000 + v, "z", 0.0)]))
    live = t._live()
    data = {p: m for p, m in live.items() if not m.get("dv")}
    assert all(m.get("bloom") for m in data.values())
    got = t.lookup([123]).collect()
    assert len(got) == 1 and got[0]["k"] == 123
    assert len(t.lookup_candidates([123])) < len(data)


def test_bloom_prunes_point_upsert_rewrites(spark, tmp_path):
    """A 1-row upsert on a hash-shuffled layout (every file spans the
    full key range) must rewrite only the bloom-positive owner files,
    not every range-overlapping file — and the merged contents must be
    exactly what a full-range rewrite would produce."""
    rows = _rows(spark, [(i, f"g{i % 5}", float(i)) for i in range(2000)])
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(rows.repartition(8, "val"))
    n_files = t.file_count()
    assert n_files >= 6

    incoming = _rows(spark, [(777, "patched", -1.0)])
    range_only = len(t._affected(incoming, use_bloom=False))
    bloomed = len(t._affected(incoming))
    assert range_only == n_files  # ranges can't prune this layout
    assert bloomed < range_only, (bloomed, range_only)

    t.upsert(incoming)
    got = {r["k"]: (r["grp"], r["val"]) for r in t.read().collect()}
    assert len(got) == 2000
    assert got[777] == ("patched", -1.0)
    assert got[778] == ("g3", 778.0)

    # the commit's remove set matches the bloom-pruned rewrite set
    last = t.history()[-1]
    assert last["op"] == "upsert" and last["n_remove"] == bloomed


def test_append_once_txn_marker_idempotent(spark, tmp_path):
    """Delta's SetTransaction mechanic: a replayed (app_id, version)
    batch is skipped wholesale, markers are monotonic per app, and
    independent apps keep independent counters."""
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(_rows(spark, [(0, "g", 0.0)]))
    assert t.append_once(_rows(spark, [(1, "g", 1.0)]), "app", 0)
    # exact replay of the same batch: skipped, contents unchanged
    assert not t.append_once(_rows(spark, [(1, "g", 1.0)]), "app", 0)
    assert t.read().count() == 2
    assert t.append_once(_rows(spark, [(2, "g", 2.0)]), "app", 1)
    # stale replay AFTER a later batch landed: still skipped
    assert not t.append_once(_rows(spark, [(9, "g", 9.0)]), "app", 0)
    # a different app id is an independent stream
    assert t.append_once(_rows(spark, [(3, "g", 3.0)]), "other", 0)
    assert t.read().count() == 4
    assert t.last_txn_version("app") == 1
    assert t.last_txn_version("other") == 0
    assert t.last_txn_version("nobody") is None


def test_read_where_prunes_on_nonkey_column(spark, tmp_path):
    """All-column stats: a range scan on a NON-key column skips files
    on a layout clustered by that column, with exact parity against
    the unpruned filter."""
    import pyspark.sql.types as T

    sch = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("day", T.DateType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    import datetime as dt

    rows = spark.createDataFrame(
        [
            (i, dt.date(2024, 1, 1) + dt.timedelta(days=i % 365), float(i))
            for i in range(2000)
        ],
        sch,
    )
    t = TxnLogTable(spark, str(tmp_path / "t"), sch, ["k"])
    t.init(rows.repartitionByRange(8, "day"))
    n_files = t.file_count()
    assert n_files >= 6

    lo, hi = dt.date(2024, 3, 1), dt.date(2024, 3, 31)
    cands = t.scan_candidates("day", lo, hi)
    assert 0 < len(cands) < n_files, (len(cands), n_files)

    got = sorted(r["k"] for r in t.read_where("day", lo, hi).collect())
    want = sorted(
        r["k"]
        for r in t.read()
        .filter((F.col("day") >= F.lit(lo)) & (F.col("day") <= F.lit(hi)))
        .collect()
    )
    assert got == want and len(got) > 0

    # stats-less columns / unclustered layouts degrade to full scan,
    # never to a wrong answer
    assert len(t.scan_candidates("val", 0.0, 1.0)) <= n_files
    assert t.read_where("val", 0.0, 1.0).count() == 2


def _all_parquet_files(root) -> set:
    out = set()
    for dirpath, _, files in os.walk(root):
        out |= {
            os.path.join(dirpath, f)
            for f in files
            if f.endswith(".parquet")
        }
    return out


def test_restore_is_metadata_only_and_preserves_history(
    spark, base, tmp_path
):
    """RESTORE rolls the live set back to an old snapshot without
    moving data (zero new physical files), keeps the bad era time
    travelable, and the table stays writable afterwards."""
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base)  # v0
    want_v0 = _collect(t)
    t.upsert(_rows(spark, [(5, "bad", -5.0), (200, "bad", -1.0)]))  # v1
    t.delete_keys(_rows(spark, [(7, "g", 0.0)]).select("k"))  # v2
    v_bad = t.current_version()
    files_before = _all_parquet_files(str(tmp_path / "t"))

    v = t.restore(0)
    assert v == v_bad + 1
    assert _collect(t) == want_v0  # live state is the v0 snapshot
    # metadata-only: not one new data file was written
    assert _all_parquet_files(str(tmp_path / "t")) == files_before
    assert t.history()[-1]["op"] == "restore"
    # the bad era is still auditable via time travel
    got_bad = {r["k"]: r["grp"] for r in t.read(v_bad).collect()}
    assert got_bad[200] == "bad" and 7 not in got_bad
    # and the table keeps accepting writes
    t.upsert(_rows(spark, [(300, "after", 1.0)]))
    assert t.read().count() == 101


def test_restore_reinstates_pre_evolution_schema(spark, base, tmp_path):
    """Restoring past a schema evolution rides the old schema along as
    a metadata action, so reads after the restore see the old shape."""
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base)  # v0
    t.add_columns({"extra": "string"})  # v1
    assert "extra" in t.read().columns
    t.restore(0)
    assert "extra" not in t.read().columns
    # evolution remains replayable history
    assert "extra" in t.read(1).columns


def test_check_constraints_gate_writes(spark, base, tmp_path):
    """Delta-shape CHECK constraints: ADD validates existing data,
    writes that violate never land (table unchanged, no staged file
    debris), NULLs pass, and DROP re-allows."""
    from relational_query_engine_sql_spark.operators.txnlog import (
        ConstraintViolation,
    )

    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base)  # val = 0..99, all >= 0

    # a constraint the data already violates never lands
    with pytest.raises(ConstraintViolation):
        t.add_constraint("val_big", "val >= 50")
    assert t.constraints() == {}

    t.add_constraint("val_nonneg", "val >= 0")
    before = _collect(t)
    v_before = t.current_version()
    with pytest.raises(ConstraintViolation):
        t.upsert(_rows(spark, [(5, "g", -1.0)]))
    assert _collect(t) == before  # rejected write changed nothing
    assert t.current_version() == v_before
    files = _all_parquet_files(str(tmp_path / "t"))
    assert len(files) == len(t._live())  # no staged debris on disk

    t.upsert(_rows(spark, [(5, "g", 500.0)]))  # valid write passes
    # NULL evaluations pass (SQL-standard CHECK)
    t.append(
        spark.createDataFrame([(900, "g", None)], SCHEMA)
    )
    assert t.read().filter(F.col("k") == 900).count() == 1

    t.drop_constraint("val_nonneg")
    t.upsert(_rows(spark, [(6, "g", -1.0)]))  # allowed again
    assert t.constraints() == {}


def test_shallow_clone_is_zero_copy_and_diverges(spark, base, tmp_path):
    """SHALLOW CLONE: v0 references the source's files by absolute
    path (no parquet copied), writes diverge the clone without
    touching the source, constraints ride along, and the clone's
    vacuum never deletes source-owned files."""
    from relational_query_engine_sql_spark.operators.txnlog import (
        ConstraintViolation,
    )

    src = TxnLogTable(spark, str(tmp_path / "src"), SCHEMA, ["k"])
    src.init(base)
    src.add_constraint("val_nonneg", "val >= 0")
    want_src = _collect(src)

    clone = src.clone_to(str(tmp_path / "clone"))
    # zero-copy: the clone dir holds no parquet at all yet
    assert not _all_parquet_files(str(tmp_path / "clone"))
    assert _collect(clone) == want_src

    # the clone diverges; the source is untouched
    clone.upsert(_rows(spark, [(0, "cloned", 123.0)]))
    clone.delete_keys(_rows(spark, [(1, "g", 0.0)]).select("k"))
    assert _collect(src) == want_src
    got = {r["k"]: r["grp"] for r in clone.read().collect()}
    assert got[0] == "cloned" and 1 not in got

    # constraints rode along
    with pytest.raises(ConstraintViolation):
        clone.upsert(_rows(spark, [(2, "g", -9.0)]))

    # the clone's vacuum must never delete source files
    clone.compact(1)  # makes every referenced source file unreferenced
    removed = clone.vacuum(keep_last=1)
    for rel in removed:
        assert not os.path.isabs(rel)  # only clone-owned files removed
    assert _collect(src) == want_src  # source data fully intact


def test_losing_restore_race_deletes_no_data(spark, base, tmp_path):
    """A restore whose CAS loses must clean up NOTHING: its add
    actions re-reference live historical files, not staged ones."""
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base)  # v0
    t.compact(2)  # v1: v0's files now historical but still on disk
    from relational_query_engine_sql_spark.operators.mutation import (
        CommitConflict,
    )

    # make the restore's CAS lose (instance-local patch — the loser
    # cleanup path is exactly what we're testing)
    real = t.backend.put_if_absent
    t.backend = type(t.backend)()
    t.backend.put_if_absent = lambda path, payload: False
    with pytest.raises(CommitConflict):
        t.restore(0)
    t.backend.put_if_absent = real
    # every file referenced anywhere in history still exists
    for v in t.versions():
        for rel in t._live(v):
            assert os.path.exists(os.path.join(t.path, rel)), (v, rel)
    assert t.read(1).count() == 100
    t.restore(0)  # and the retried restore succeeds
    assert t.read().count() == 100


# -- round-6 protocol hardening ------------------------------------------


def test_legacy_list_stats_stay_readable_and_mutable(spark, tmp_path):
    """Log-format compat: a table whose add-actions carry the ORIGINAL
    bare [min, max] stats shape (first key only, pre-dict format) must
    keep reading and mutating — the legacy list is interpreted as
    first-key stats, never crashed on (stats.get on a list)."""
    import json as _json

    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(_rows(spark, [(i, "g", float(i)) for i in range(100)]).coalesce(2))
    # rewrite every add-action's stats to the legacy list shape
    for v in t.versions():
        with open(t._log_path(v), encoding="utf-8") as f:
            entry = _json.load(f)
        for a in entry["actions"]:
            if "add" in a and isinstance(a["add"].get("stats"), dict):
                a["add"]["stats"] = a["add"]["stats"]["k"]
        with open(t._log_path(v), "w", encoding="utf-8") as f:
            _json.dump(entry, f)
    assert t.read().count() == 100
    # keyed mutations replan from the legacy stats without crashing
    t.upsert(_rows(spark, [(7, "patched", -1.0)]))
    t.delete_keys(spark.createDataFrame([(99,)], "k long"))
    got = {r["k"]: r["grp"] for r in t.read().collect()}
    assert got[7] == "patched" and 99 not in got and len(got) == 99
    # range scans on the first key still prune through the list shape
    assert t.scan_candidates("k", 0, 3)


def test_append_once_retry_cap_surfaces_conflict(spark, tmp_path):
    """append_once must CAP its rebase loop (like modify_with_retry):
    under sustained contention it surfaces CommitConflict instead of
    spinning forever, and every retry's staged files are cleaned up."""
    from relational_query_engine_sql_spark.operators.txnlog import (
        LocalCommitBackend,
    )

    class AlwaysLoses(LocalCommitBackend):
        def __init__(self):
            self.attempts = 0

        def put_if_absent(self, path, payload):
            self.attempts += 1
            return False  # someone else always got there first

    backend = AlwaysLoses()
    t = TxnLogTable(
        spark, str(tmp_path / "t"), SCHEMA, ["k"], commit_backend=backend
    )
    # seed via a winning backend so the table exists
    t0 = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t0.init(_rows(spark, [(0, "g", 0.0)]))
    with pytest.raises(CommitConflict, match="gave up"):
        t.append_once(_rows(spark, [(1, "g", 1.0)]), "app", 0, max_retries=3)
    assert backend.attempts == 4  # initial try + 3 rebases, then stop
    # every loser cleaned up its staged parquet: only v0's file remains
    live_dirs = {p.split("/")[1] for p in t0._live()}
    on_disk = set(os.listdir(os.path.join(str(tmp_path / "t"), "data")))
    assert on_disk == live_dirs


def test_restore_restores_constraint_set(spark, tmp_path):
    """RESTORE is table-metadata restore too (Delta semantics): a
    CHECK constraint added AFTER the target version is dropped by the
    restore — it never validated the restored rows, so leaving it
    active would gate future writes while the table silently holds
    violating rows."""
    from relational_query_engine_sql_spark.operators.txnlog import (
        ConstraintViolation,
    )

    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(_rows(spark, [(1, "g", -5.0), (2, "g", 2.0)]))  # v0: has -5
    t.delete_keys(spark.createDataFrame([(1,)], "k long"))  # v1: -5 gone
    t.add_constraint("nonneg", "val >= 0")  # v2: validates clean table
    with pytest.raises(ConstraintViolation):
        t.append(_rows(spark, [(3, "g", -1.0)]))  # constraint is live
    v = t.restore(0)  # back to the era BEFORE the constraint existed
    assert t.constraints() == {}, "post-target constraint must not survive"
    assert {r["k"] for r in t.read().collect()} == {1, 2}
    t.append(_rows(spark, [(3, "g", -1.0)]))  # ungated again, as at v0
    # re-adding the constraint re-runs the full existing-rows scan and
    # correctly refuses: the restored -5 row was never validated
    with pytest.raises(ConstraintViolation):
        t.add_constraint("nonneg", "val >= 0")
    # and the restore itself is auditable history, not a rewrite
    assert t.history()[v]["op"] == "restore"


def test_bloom_mask_sized_from_file_key_count(spark, tmp_path):
    """Per-file bloom sizing: a small file gets a small mask, a large
    file a proportionally larger one (fpr stays flat as files grow
    instead of drifting toward 1 at a fixed m), each action records
    its own geometry, and lookups stay exact either way."""
    from relational_query_engine_sql_spark.operators.txnlog import (
        BLOOM_MAX_BITS,
        BLOOM_MIN_BITS,
    )

    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(_rows(spark, [(i, "s", 1.0) for i in range(40)]).coalesce(1))
    t.append(
        _rows(
            spark, [(i, "b", 2.0) for i in range(1000, 13000)]
        ).coalesce(1)
    )
    blooms = sorted(
        (m["rows"], m["bloom"]["m"]) for m in t._live().values()
    )
    (small_rows, small_m), (big_rows, big_m) = blooms
    assert (small_rows, big_rows) == (40, 12000)
    assert small_m < big_m, blooms
    for _, m in blooms:
        assert BLOOM_MIN_BITS <= m <= BLOOM_MAX_BITS
        assert m & (m - 1) == 0  # power of two
    # correctness is unchanged: owner file always probes positive
    assert {r["k"] for r in t.lookup([7, 1007]).collect()} == {7, 1007}
    # and a sized mask still prunes: a key in neither file skips both
    assert t.lookup_candidates([500]) == []


def test_checkpoint_folds_metadata_and_bounds_walks(
    spark, tmp_path, monkeypatch
):
    """Checkpoints carry schema/constraints/txn markers (Delta's
    metaData + SetTransaction checkpoint fields): after the newest
    checkpoint, the PRE-checkpoint log entries are not needed at all —
    proven by deleting them from disk and getting identical answers.
    This is what bounds _write_files' per-write constraint lookup to
    O(CHECKPOINT_EVERY) instead of O(versions)."""
    import relational_query_engine_sql_spark.operators.txnlog as txn

    monkeypatch.setattr(txn, "CHECKPOINT_EVERY", 4)
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(_rows(spark, [(i, "g", float(i)) for i in range(10)]))  # v0
    t.add_constraint("nonneg", "val >= 0")  # v1
    t.add_columns({"note": "string"})  # v2
    assert t.append_once(
        _rows(spark, [(10, "g", 10.0)]).withColumn("note", F.lit("x")),
        "app",
        7,
    )  # v3
    t.upsert(
        _rows(spark, [(0, "u", 0.5)]).withColumn("note", F.lit("y"))
    )  # v4 -> checkpoint with folded metadata
    assert os.path.exists(t._ckpt_path(4))
    before = (
        _collect_v6(t),
        t.constraints(),
        t.schema.fieldNames(),
        t.last_txn_version("app"),
    )
    for v in range(0, 4):  # drop every pre-checkpoint entry
        os.remove(t._log_path(v))
    t2 = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    after = (
        _collect_v6(t2),
        t2.constraints(),
        t2.schema.fieldNames(),
        t2.last_txn_version("app"),
    )
    assert after == before
    assert after[1] == {"nonneg": "val >= 0"}
    assert after[2] == ["k", "grp", "val", "note"]
    assert after[3] == 7
    # the folded constraint still gates writes on the reopened table
    from relational_query_engine_sql_spark.operators.txnlog import (
        ConstraintViolation,
    )

    with pytest.raises(ConstraintViolation):
        t2.append(
            _rows(spark, [(99, "g", -1.0)]).withColumn("note", F.lit("z"))
        )


def _collect_v6(t):
    return sorted(tuple(r) for r in t.read().collect())


# -- object-store commit backend -----------------------------------------


def test_objectstore_lost_response_self_win(tmp_path):
    """The classic conditional-PUT ambiguity: the PUT lands but the
    response is lost. A naive retry would see 412-for-its-own-write
    and report a lost race — dropping a commit that IS durable. The
    backend must re-read and recognize its own payload (self-win)."""
    b = ObjectStoreCommitBackend()
    log = str(tmp_path / "00000000000000000001.json")
    b.inject_fault("after")  # applied server-side, response lost
    assert b.put_if_absent(log, "mine") is True
    with open(log, encoding="utf-8") as f:
        assert f.read() == "mine"
    assert b.generations[log] == 1  # exactly one PUT reached the store


def test_objectstore_lost_response_lost_race(tmp_path):
    """The same retry path must still report a genuine lost race: the
    object exists with a DIFFERENT payload after the transient error
    (the condition failed server-side; only the response was lost)."""
    b = ObjectStoreCommitBackend()
    log = str(tmp_path / "00000000000000000001.json")
    assert b.put_if_absent(log, "rival") is True
    b.inject_fault("after")  # 412 evaluated server-side, response lost
    assert b.put_if_absent(log, "mine") is False
    with open(log, encoding="utf-8") as f:
        assert f.read() == "rival"  # the winner's object is untouched


def test_objectstore_dropped_request_retries_clean(tmp_path):
    """A request dropped BEFORE the store processes it leaves no
    object; the internal retry then wins normally."""
    b = ObjectStoreCommitBackend()
    log = str(tmp_path / "00000000000000000001.json")
    b.inject_fault("before")
    assert b.put_if_absent(log, "mine") is True
    assert b.generations[log] == 1


def test_objectstore_hard_failure_surfaces(tmp_path):
    """With retries exhausted the transient error propagates — the
    caller (not the backend) owns give-up policy, exactly like a real
    store client."""
    from relational_query_engine_sql_spark.operators.txnlog import (
        TransientStoreError,
    )

    b = ObjectStoreCommitBackend(max_retries=0)
    with pytest.raises(TransientStoreError):
        b.inject_fault("before")
        b.put_if_absent(str(tmp_path / "x.json"), "p")


def test_objectstore_crash_mid_checkpoint_heals(
    spark, base, tmp_path, monkeypatch
):
    """Crash-mid-checkpoint on the object-store backend: the commit
    itself is durable, the failed checkpoint PUT leaves either nothing
    or a FULL object (torn objects are impossible on an object store),
    readers replay from the log, and the next checkpoint heals."""
    import relational_query_engine_sql_spark.operators.txnlog as txn

    monkeypatch.setattr(txn, "CHECKPOINT_EVERY", 3)
    backend = ObjectStoreCommitBackend(max_retries=0)
    t = TxnLogTable(
        spark, str(tmp_path / "t"), SCHEMA, ["k"], commit_backend=backend
    )
    t.init(base)
    # aim the fault at the CHECKPOINT publish: each upsert is one
    # commit PUT, and v3's checkpoint is the 4th request from here
    backend.inject_fault("ok", n=3)
    backend.inject_fault("before")
    fails = []
    for i in range(3):  # v3 crosses the patched CHECKPOINT_EVERY
        try:
            t.upsert(_rows(spark, [(i, "u", 0.0)]))
        except txn.TransientStoreError:
            fails.append(t.current_version())
    assert fails == [3], "exactly the checkpoint PUT failed"
    assert not os.path.exists(t._ckpt_path(3))  # nothing, not torn
    # the commit at v3 is durable and readable without the checkpoint
    assert t.read().count() == 100
    assert {r["grp"] for r in t.read().filter(F.col("k") < 3).collect()} == {
        "u"
    }
    # three more commits: v6's checkpoint heals the gap
    for i in range(3, 6):
        t.upsert(_rows(spark, [(i, "u", 0.0)]))
    assert os.path.exists(t._ckpt_path(6))
    t2 = TxnLogTable(
        spark, str(tmp_path / "t"), SCHEMA, ["k"],
        commit_backend=ObjectStoreCommitBackend(),
    )
    assert t2.read().filter(F.col("grp") == "u").count() == 6


def test_objectstore_append_once_exactly_once_under_lost_response(
    spark, tmp_path
):
    """End-to-end exactly-once through the table API when the commit
    PUT's response is lost: the self-win detection means the batch is
    recorded ONCE — no duplicate rows, no duplicate txn marker, no
    spurious CommitConflict."""
    backend = ObjectStoreCommitBackend()
    t = TxnLogTable(
        spark, str(tmp_path / "t"), SCHEMA, ["k"], commit_backend=backend
    )
    t.init(_rows(spark, [(0, "g", 0.0)]))
    backend.inject_fault("after")  # the append's commit PUT loses its ack
    assert t.append_once(_rows(spark, [(1, "g", 1.0)]), "app", 0) is True
    assert t.read().count() == 2
    assert t.last_txn_version("app") == 0
    # replay of the same batch is still skipped wholesale
    assert t.append_once(_rows(spark, [(1, "g", 1.0)]), "app", 0) is False
    assert t.read().count() == 2


# -- partition-column layout ---------------------------------------------


def test_partitioned_layout_prunes_exactly_and_reads_flat(spark, tmp_path):
    """partition_by: every data file owns exactly one partition value
    (recorded as Delta-style partitionValues metadata), keyed writes
    and scans prune partition-FIRST and exactly, and the read path is
    still one flat multi-file scan with full parity."""
    schema = T.StructType(
        [
            T.StructField("sym", T.StringType()),
            T.StructField("ts", T.LongType()),
            T.StructField("px", T.DoubleType()),
        ]
    )
    t = TxnLogTable(
        spark, str(tmp_path / "t"), schema, ["sym", "ts"],
        partition_by=["sym"],
    )
    rows = spark.createDataFrame(
        [(s, i, float(i)) for s in ("AAPL", "MSFT", "GOOG") for i in range(200)],
        schema,
    )
    t.init(rows.repartition(4))
    live = t._live()
    parts = {m["part"]["sym"] for m in live.values()}
    assert parts == {"AAPL", "MSFT", "GOOG"}
    assert t.read().count() == 600

    # a single-symbol keyed probe touches ONLY that symbol's files
    probe = spark.createDataFrame([("AAPL", 5)], schema[:2])
    aff = t._affected(probe)
    assert aff and {live[p]["part"]["sym"] for p in aff} == {"AAPL"}
    assert len(aff) < len(live)

    # predicate scans partition-prune through the same path
    cands = t.scan_candidates("sym", "MSFT", "MSFT")
    assert {live[p]["part"]["sym"] for p in cands} == {"MSFT"}

    # mutation parity inside one partition; other partitions untouched
    untouched = {p for p in live if live[p]["part"]["sym"] != "AAPL"}
    t.upsert(spark.createDataFrame([("AAPL", 5, 999.0)], schema))
    assert untouched <= set(t._live())
    got = t.read().filter((F.col("sym") == "AAPL") & (F.col("ts") == 5))
    assert got.first()["px"] == 999.0 and t.read().count() == 600
    # time travel replays the pre-upsert partition state
    old = t.read(0).filter((F.col("sym") == "AAPL") & (F.col("ts") == 5))
    assert old.first()["px"] == 5.0


def test_partitioned_compact_and_checkpoint_keep_part_values(
    spark, tmp_path, monkeypatch
):
    """partitionValues survive compaction rewrites and checkpoint
    replay (the metadata rides the live-set payload), and NULL
    partition values round-trip through the hive null sentinel."""
    import relational_query_engine_sql_spark.operators.txnlog as txn

    monkeypatch.setattr(txn, "CHECKPOINT_EVERY", 3)
    schema = T.StructType(
        [
            T.StructField("sym", T.StringType()),
            T.StructField("ts", T.LongType()),
            T.StructField("px", T.DoubleType()),
        ]
    )
    t = TxnLogTable(
        spark, str(tmp_path / "t"), schema, ["ts"], partition_by=["sym"]
    )
    t.init(
        spark.createDataFrame(
            [("A", 1, 1.0), ("B", 2, 2.0), (None, 3, 3.0)], schema
        )
    )
    for i in range(4, 8):  # cross the patched checkpoint cadence
        t.append(spark.createDataFrame([("A", i, float(i))], schema))
    assert os.path.exists(t._ckpt_path(3))
    t.compact(2)
    live = t._live()
    assert all("part" in m for m in live.values())
    # NULL partition value: readable, and its file never prunes on sym
    assert t.read().count() == 7
    assert {r["ts"] for r in t.read().filter(F.col("sym").isNull()).collect()} == {3}
    null_files = [p for p, m in live.items() if m["part"]["sym"] is None]
    assert null_files
    assert set(null_files) <= set(t.scan_candidates("sym", "A", "A")), (
        "unknown (null) partition value must stay a candidate"
    )
    # reopened handle replays part metadata from the checkpoint
    t2 = TxnLogTable(
        spark, str(tmp_path / "t"), schema, ["ts"], partition_by=["sym"]
    )
    assert {m["part"]["sym"] for m in t2._live().values()} >= {"A", "B"}


# -- change-data feed ------------------------------------------------------


def test_table_changes_net_diff_and_dv_delta(spark, tmp_path):
    """table_changes (the Delta CDF surface): net pre/post pairs for
    updates, inserts and deletes with correct image values; rows that
    were only COPIED ALONG by file-level rewrites are absent; and a
    merge-on-read deferred delete — visibility change with ZERO data
    file churn — is surfaced through the DV-delta branch."""
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(
        _rows(spark, [(i, "g", float(i)) for i in range(100)]).coalesce(2)
    )  # v0
    # v1: deferred (MOR) delete of 3 keys — no data file changes
    t.delete_keys_deferred(spark.createDataFrame([(5,), (6,), (7,)], "k long"))
    ch01 = t.table_changes(0, 1).collect()
    assert {(r["k"], r["_change_type"]) for r in ch01} == {
        (5, "delete"), (6, "delete"), (7, "delete")
    }
    assert {r["val"] for r in ch01} == {5.0, 6.0, 7.0}  # pre-images

    # v2: update a slice; v3: append new keys
    t.update(F.col("k") < 3, {"grp": F.lit("upd")})
    t.append(_rows(spark, [(200, "new", 1.0), (201, "new", 2.0)]))
    ch = {(r["k"], r["_change_type"]): r for r in t.table_changes(0).collect()}
    # net diff v0 -> v3: 3 deletes, 3 update pairs, 2 inserts — nothing else
    assert sorted(ch) == sorted(
        [(5, "delete"), (6, "delete"), (7, "delete")]
        + [(k, "update_preimage") for k in range(3)]
        + [(k, "update_postimage") for k in range(3)]
        + [(200, "insert"), (201, "insert")]
    ), sorted(ch)
    assert ch[(0, "update_preimage")]["grp"] == "g"
    assert ch[(0, "update_postimage")]["grp"] == "upd"
    # copy-along: k=3..4 lived in the rewritten file but must not appear
    assert not [k for (k, _c) in ch if 3 <= k <= 7 and _c != "delete"]

    # intermediate-hop consistency: changes(0,2) sees no inserts yet
    mid = {(r["k"], r["_change_type"]) for r in t.table_changes(0, 2).collect()}
    assert (200, "insert") not in mid
    # a row updated then later deleted nets to ONE delete with v0 image
    t.delete(F.col("k") == 1)
    net = {
        (r["k"], r["_change_type"]): r for r in t.table_changes(0).collect()
    }
    assert (1, "update_preimage") not in net
    assert net[(1, "delete")]["grp"] == "g"  # pre-image is the v0 value


# -- blind-append rebase + timestamp time travel ---------------------------


@BACKENDS
def test_blind_append_rebases_without_restaging(
    spark, base, tmp_path, make_backend
):
    """Delta's blind-append conflict resolution: two threads appending
    disjoint keys never lose work AND never re-stage their parquet —
    a CAS loser re-commits the SAME staged files on the new head. At
    100 TB the staged data is the expensive half of an append; the
    old loser-re-stages loop multiplied it by the retry count."""
    from concurrent.futures import ThreadPoolExecutor

    backend = make_backend()
    t = TxnLogTable(
        spark, str(tmp_path / "t"), SCHEMA, ["k"], commit_backend=backend
    )
    t.init(base)  # v0

    def writer(lo: int):
        for i in range(4):
            t.append(_rows(spark, [(lo + i, "w", 1.0)]), max_retries=30)

    with ThreadPoolExecutor(max_workers=2) as ex:
        for f in [ex.submit(writer, lo) for lo in (1000, 2000)]:
            f.result()

    assert t.versions() == list(range(9))  # init + 8 appends, gapless
    assert t.read().filter(F.col("grp") == "w").count() == 8
    # no re-staging: every staged directory that was ever written is
    # still referenced by the log (losers kept their files via rebase)
    staged_dirs = {
        d for d in os.listdir(os.path.join(str(tmp_path / "t"), "data"))
    }
    live_dirs = {p.split("/")[1] for p in t._live()}
    referenced = set()
    for v in t.versions():
        for p in t._live(v):
            referenced.add(p.split("/")[1])
    assert staged_dirs == referenced, (
        "orphan staged dirs imply a loser re-staged instead of rebasing"
    )
    assert live_dirs <= referenced


def test_append_rebase_falls_back_on_overlapping_dv(spark, tmp_path):
    """The rebase guard: an intervening MERGE-ON-READ delete whose key
    range overlaps the append makes the commit snapshot-dependent —
    the append must recompute (revive the tombstoned key) instead of
    blindly rebasing a row that would land already-masked."""
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(_rows(spark, [(i, "g", float(i)) for i in range(10)]))
    rival = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])

    real = t._commit
    fired = {"done": False}

    def inject(op, actions, expected_version, staged_adds=None):
        if op == "append" and not fired["done"]:
            fired["done"] = True
            # rival tombstones the very key being appended, INSIDE the
            # append's stage->commit window
            rival.delete_keys_deferred(
                spark.createDataFrame([(5,)], "k long")
            )
        return real(op, actions, expected_version, staged_adds)

    t._commit = inject
    t.append(_rows(spark, [(5, "re", 55.0)]))
    t._commit = real
    got = t.read().filter(F.col("k") == 5).collect()
    assert [(r["grp"], r["val"]) for r in got] == [("re", 55.0)], got
    assert t.read().count() == 10  # revived exactly once, no dup


def test_append_rebase_falls_back_on_new_constraint(spark, tmp_path):
    """An intervening ADD CONSTRAINT invalidates staged files (they
    were validated against the old set): the rebase guard must force
    re-staging, which re-runs validation and REFUSES the violating
    append."""
    from relational_query_engine_sql_spark.operators.txnlog import (
        ConstraintViolation,
    )

    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(_rows(spark, [(1, "g", 1.0)]))
    rival = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])

    real = t._commit
    fired = {"done": False}

    def inject(op, actions, expected_version, staged_adds=None):
        if op == "append" and not fired["done"]:
            fired["done"] = True
            rival.add_constraint("nonneg", "val >= 0")
        return real(op, actions, expected_version, staged_adds)

    t._commit = inject
    with pytest.raises(ConstraintViolation):
        t.append(_rows(spark, [(2, "bad", -1.0)]))
    t._commit = real
    assert t.read().count() == 1  # nothing landed


def test_timestamp_time_travel(spark, base, tmp_path):
    """TIMESTAMP AS OF: commits carry wall-clock stamps, version_at
    resolves the newest commit at-or-before a timestamp, and read_asof
    replays that snapshot. Probed with the table's own recorded
    stamps, so the test is clock-speed independent."""
    import datetime as dt

    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base)  # v0: 100 rows
    t.delete(F.col("k") >= 50)  # v1: 50 rows
    t.append(_rows(spark, [(500, "late", 5.0)]))  # v2: 51 rows
    ts = {h["version"]: h["ts"] for h in t.history()}
    assert all(ts[v] is not None for v in range(3))
    assert ts[0] <= ts[1] <= ts[2]  # CAS-serialized commits
    assert t.version_at(ts[0]) == 0
    assert t.version_at((ts[0] + ts[1]) / 2) in (0,)
    assert t.version_at(ts[2] + 1000) == 2
    assert t.read_asof(ts[1]).count() == 50
    assert t.read_asof(ts[2]).count() == 51
    # +1ms slack: fromtimestamp rounds to microseconds and can land
    # BELOW the exact commit float, which would predate v0
    when = dt.datetime.fromtimestamp(ts[0] + 0.001, dt.timezone.utc)
    assert t.read_asof(when).count() == 100
    with pytest.raises(ValueError, match="predates"):
        t.version_at(ts[0] - 1000)


def test_vacuum_retain_hours_and_dry_run(spark, base, tmp_path):
    """Time-based retention (VACUUM RETAIN n HOURS): versions inside
    the window survive even beyond keep_last, dry_run reports without
    deleting, and shrinking the window actually deletes — with time
    travel exact inside the retained window throughout."""
    import json as _json

    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base)  # v0
    t.delete(F.col("k") >= 50)  # v1
    t.upsert(_rows(spark, [(0, "z", 0.1)]))  # v2
    # age v0's commit far into the past (stamps are plain JSON)
    with open(t._log_path(0), encoding="utf-8") as f:
        e0 = _json.load(f)
    e0["ts"] = e0["ts"] - 48 * 3600
    with open(t._log_path(0), "w", encoding="utf-8") as f:
        _json.dump(e0, f)

    # 24h window: v1/v2 are recent -> keep_last=1 still retains them
    doomed = t.vacuum(keep_last=1, retain_hours=24, dry_run=True)
    assert doomed  # v0-only files are outside the window
    assert t.read(1).count() == 50  # dry run deleted nothing
    assert t.read(0).count() == 100
    got = t.vacuum(keep_last=1, retain_hours=24)
    assert got == doomed
    # inside the window time travel is exact; outside it fails loudly
    assert t.read(1).count() == 50
    assert t.read(2).count() == 50
    with pytest.raises(Exception):
        t.read(0).count()  # vacuumed era


def test_zorder_nd_bounds_every_dimension(spark, tmp_path):
    """Multi-column OPTIMIZE ZORDER (N=3): after a z-ordered compact,
    per-file stats prune range scans on EACH of the three listed
    dimensions — the property a lexicographic sort gives only its
    leading column. Also pins that the 2-dim wrapper is a true
    special case (same z for the same inputs)."""
    import pyspark.sql.types as T

    from relational_query_engine_sql_spark.operators.layout import (
        zorder_key,
        zorder_key_nd,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("a", T.LongType()),
            T.StructField("b", T.LongType()),
            T.StructField("c", T.LongType()),
        ]
    )
    rows = spark.createDataFrame(
        [
            (i, i % 97, (i * 31) % 89, (i * 57) % 101)
            for i in range(6000)
        ],
        schema,
    )
    t = TxnLogTable(spark, str(tmp_path / "t"), schema, ["k"])
    t.init(rows.repartition(8))
    t.compact(8, zorder_by=("a", "b", "c"))
    data, _ = t._split_live()
    n_files = len(data)
    assert n_files >= 6
    for col, lo, hi in (("a", 0, 9), ("b", 0, 8), ("c", 0, 10)):
        cands = t.scan_candidates(col, lo, hi)
        assert len(cands) < n_files, (col, len(cands), n_files)
        # and the pruned read is exact vs the unpruned filter
        got = t.read_where(col, lo, hi).count()
        want = t.read().filter(F.col(col).between(lo, hi)).count()
        assert got == want and want > 0

    # wrapper equivalence: zorder_key(x, y) == zorder_key_nd([x, y])
    two = {r["k"]: r["z"] for r in zorder_key(rows, "a", "b").select("k", "z").collect()}
    nd = {r["k"]: r["z"] for r in zorder_key_nd(rows, ["a", "b"]).select("k", "z").collect()}
    assert two == nd


@BACKENDS
def test_disjoint_keyed_writes_rebase_without_conflict(
    spark, tmp_path, make_backend
):
    """Delta's WriteSerializable resolution for KEYED mutations: a CAS
    loss against a commit that touched none of our files and none of
    our key range re-commits the same staged output — no error, no
    recompute — while both writers' effects land. Layout: three
    disjoint key-range files, writers in different ranges."""
    backend = make_backend()
    t = TxnLogTable(
        spark, str(tmp_path / "t"), SCHEMA, ["k"], commit_backend=backend
    )
    for lo in (0, 1000, 2000):
        t.append(
            _rows(spark, [(lo + i, "g", 1.0) for i in range(50)]).coalesce(1)
        )
    rival = TxnLogTable(
        spark, str(tmp_path / "t"), SCHEMA, ["k"], commit_backend=backend
    )

    real = t._write_files
    fired = {"done": False}

    def inject_then_write(df, dv=False):
        out = real(df, dv=dv)
        if not fired["done"]:
            fired["done"] = True
            # rival mutates a DIFFERENT key range (other file) inside
            # t's stage->commit window
            rival.upsert(_rows(spark, [(2005, "rival", 9.0)]))
        return out

    t._write_files = inject_then_write
    t.upsert(_rows(spark, [(5, "mine", -1.0)]))  # must NOT raise
    t._write_files = real

    got = {r["k"]: r["grp"] for r in t.read().collect()}
    assert got[5] == "mine" and got[2005] == "rival"
    assert t.read().count() == 150
    # t's commit landed ON TOP of the rival's (rebase, not overwrite)
    ops = [h["op"] for h in t.history()]
    assert ops[-2:] == ["upsert", "upsert"]
    # delete_keys rebases the same way
    fired["done"] = False

    def inject_then_write2(df, dv=False):
        out = real(df, dv=dv)
        if not fired["done"]:
            fired["done"] = True
            rival.delete_keys(spark.createDataFrame([(2010,)], "k long"))
        return out

    t._write_files = inject_then_write2
    t.delete_keys(spark.createDataFrame([(10,)], "k long"))
    t._write_files = real
    keys = {r["k"] for r in t.read().collect()}
    assert 10 not in keys and 2010 not in keys
    assert t.read().count() == 148


def test_partition_values_with_special_chars_round_trip(spark, tmp_path):
    """Hive-escaped partition directories (space, %, =, /): the log
    must store the LITERAL on-disk path — input_file_name returns a
    URI, and logging its escaped form made the zero-row scrub delete
    freshly-written files whose partition value needed escaping (the
    s29 discovery: the '4-NOT SPECIFIED' orders partition silently
    vanished at init). Values must also parse back exactly."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("p", T.StringType()),
        ]
    )
    t = TxnLogTable(
        spark, str(tmp_path / "t"), schema, ["k"], partition_by=["p"]
    )
    vals = {1: "NOT SPECIFIED", 2: "A%B", 3: "ok", 4: "a=b/c"}
    t.init(spark.createDataFrame(sorted(vals.items()), schema))
    assert {m["part"]["p"] for m in t._live().values()} == set(vals.values())
    got = {r["k"]: r["p"] for r in t.read().collect()}
    assert got == vals
    # exact partition prune on the escaped values
    for v in vals.values():
        cands = t.scan_candidates("p", v, v)
        assert len(cands) == 1, (v, cands)
        assert t.read_where("p", v, v).count() == 1
    # keyed rewrite inside an escaped partition keeps everything
    t.upsert(spark.createDataFrame([(1, "NOT SPECIFIED")], schema))
    assert t.read().count() == 4


def test_rewrite_rebase_blocks_on_shared_dv_shrink(spark, tmp_path):
    """Two keyed writers on DISJOINT key ranges can still race on the
    SAME deletion-vector file when one DV spans both ranges. The CAS
    loser's rebase must treat the rival's DV remove as a conflict:
    re-committing the loser's stale shrunk-DV copy would re-tombstone
    the key the rival revived, silently masking the rival's newly
    written row (lost update). The conflict set therefore covers ALL
    removes in the commit (doomed data files + the extra DV shrink),
    not just the doomed list."""
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    for lo in (0, 1000, 2000):
        t.append(
            _rows(spark, [(lo + i, "g", 1.0) for i in range(50)]).coalesce(1)
        )
    # ONE deletion vector spanning the outer ranges (stats [5, 2005])
    t.delete_keys_deferred(
        spark.createDataFrame([(5,), (2005,)], "k long").coalesce(1)
    )
    rival = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])

    real = t._write_files
    fired = {"done": False}

    def inject(df, dv=False):
        out = real(df, dv=dv)
        if not fired["done"]:
            fired["done"] = True
            # the rival revives tombstoned key 2005 inside t's
            # stage->commit window: its commit shrinks the shared DV
            # to {5} and rewrites the 2000-range file
            rival.upsert(_rows(spark, [(2005, "rival", 9.0)]))
        return out

    t._write_files = inject
    # t writes key 1005 — key-range-disjoint from the rival, but t's
    # staged commit carries a stale DV copy still containing 2005
    with pytest.raises(CommitConflict):
        t.upsert(_rows(spark, [(1005, "mine", -1.0)]))
    t._write_files = real
    # retry on a fresh snapshot (the caller's contract) loses nothing
    t.upsert(_rows(spark, [(1005, "mine", -1.0)]))
    got = {r["k"]: r["grp"] for r in t.read().collect()}
    assert got[2005] == "rival"  # the revived row SURVIVED
    assert got[1005] == "mine"
    assert 5 not in got  # the untouched tombstone stays
    assert t.read().count() == 149


def test_timestamp_travel_monotonic_under_clock_skew(spark, tmp_path):
    """Commit ``ts`` values are raw writer wall clocks; with multiple
    writers and clock skew they can be non-monotone in version order
    even though the CAS serializes the commits. TIMESTAMP AS OF and
    vacuum retention must resolve over the Delta-style monotonically
    adjusted sequence (each effective ts >= predecessor + 1ms), never
    letting a version look OLDER than an earlier-numbered commit."""
    import json as _json
    import time as _time

    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(_rows(spark, [(1, "a", 1.0)]))  # v0
    t.append(_rows(spark, [(2, "b", 1.0)]))  # v1
    t.upsert(_rows(spark, [(2, "b2", 2.0)]))  # v2 rewrites v1's file

    def _set_ts(stamps):
        for v, ts in stamps:
            p = t._log_path(v)
            with open(p, encoding="utf-8") as f:
                e = _json.load(f)
            e["ts"] = ts
            with open(p, "w", encoding="utf-8") as f:
                _json.dump(e, f)

    # v2's writer clock is BEHIND v1's
    _set_ts([(0, 1000.0), (1, 2000.0), (2, 1500.0)])
    eff = t._effective_ts()
    assert list(eff) == [0, 1, 2]
    assert eff[1] == 2000.0 and eff[2] == pytest.approx(2000.001)
    # a raw scan would resolve 1800 to v2 — effects of a commit whose
    # wall clock (2000) is AFTER the asked timestamp
    assert t.version_at(1800.0) == 0
    assert t.version_at(2000.0) == 1
    assert t.version_at(2000.1) == 2
    with pytest.raises(ValueError):
        t.version_at(999.0)

    # vacuum retention stays a contiguous suffix: v2 (the newest
    # commit) has a skewed-old raw clock outside the window while v1
    # is inside — raw timestamps would retain {v1} but not v2, and
    # vacuum would delete v2's CURRENT file while keeping v1's dead one
    now = _time.time()
    _set_ts([(0, now - 7200.0), (1, now - 100.0), (2, now - 7000.0)])
    doomed = set(t.vacuum(keep_last=0, retain_hours=1.0, dry_run=True))
    assert not (doomed & set(t._live()))
    assert t.read().count() == 2


def test_bloom_masks_live_in_sidecars_not_the_log(spark, tmp_path):
    """Bloom hex masks are staged in a per-write sidecar next to the
    data files; log entries and checkpoints carry only the small
    {m, j, sidecar} reference — plan-time metadata stays KB-scale at
    any file count. Pruning behavior is identical to the inline form,
    legacy inline {"hex": ...} actions still probe, and a missing
    sidecar degrades to no-prune (correct, never wrong)."""
    import json as _json

    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    for lo in (0, 1000, 2000):
        t.append(
            _rows(spark, [(lo + i, "g", 1.0) for i in range(200)]).coalesce(1)
        )
    live = t._live()
    blooms = {p: m["bloom"] for p, m in live.items() if m.get("bloom")}
    assert blooms and all("hex" not in b for b in blooms.values())
    assert all(b.get("sidecar") for b in blooms.values())
    # the log entries stay small: no 1KB+ hex blobs inline
    for v in t.versions():
        assert os.path.getsize(t._log_path(v)) < 4096
    # pruning works through the sidecar: key 5 lives in one file
    cands = t.lookup_candidates([5])
    assert len(cands) == 1
    # range-only would keep all three (every file's range [lo, lo+199]
    # admits only its own 5? no — ranges are disjoint here, so probe a
    # value inside one range but absent from the file set is stronger:
    # all keys are present; instead verify the mask actually resolves
    rb = t._resolve_bloom(cands[0], blooms[cands[0]])
    assert rb and "hex" in rb
    # legacy inline form passes through untouched
    inline = {"m": 1024, "j": 2, "hex": rb["hex"]}
    assert t._resolve_bloom("whatever", inline) is inline
    # missing sidecar degrades to no-prune, never a wrong skip
    assert (
        t._resolve_bloom("x", {"m": 1024, "j": 2, "sidecar": "nope.json"})
        is None
    )
    # a CAS-losing unpartitioned write drops its sidecar with its dir
    rival = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    real = t._write_files
    fired = {"done": False}

    def inject(df, dv=False):
        out = real(df, dv=dv)
        if not fired["done"]:
            fired["done"] = True
            rival.append(_rows(spark, [(9000, "r", 1.0)]))
        return out

    t._write_files = inject
    t.append(_rows(spark, [(5000, "mine", 1.0)]))  # rebases or retries
    t._write_files = real
    live2 = t._live()
    # every live bloom's sidecar exists on disk
    for p, m in live2.items():
        b = m.get("bloom")
        if b and b.get("sidecar"):
            assert os.path.exists(os.path.join(t.path, b["sidecar"])), p


def test_vacuum_removes_fully_dead_write_dirs(spark, base, tmp_path):
    """A write directory none of whose files survive vacuum is removed
    wholesale — its bloom sidecar (never an add-action path, so the
    per-file loop can't reach it) and empty partition dirs don't
    accumulate; a directory with ANY live file keeps its sidecar."""
    t = TxnLogTable(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    t.init(base.coalesce(1))  # v0: one dir, one file
    t.upsert(_rows(spark, [(0, "x", 9.9)]))  # v1 rewrites v0's file
    t.upsert(_rows(spark, [(1, "y", 8.8)]))  # v2 rewrites v1's output
    dirs_before = set(os.listdir(os.path.join(t.path, "data")))
    removed = t.vacuum(keep_last=1)
    assert removed  # v0/v1 outputs are unreferenced now
    dirs_after = set(os.listdir(os.path.join(t.path, "data")))
    assert dirs_after < dirs_before  # dead write dirs are gone
    # the surviving dir still carries its sidecar and still prunes
    live = t._live()
    assert all(
        os.path.exists(
            os.path.join(t.path, m["bloom"]["sidecar"])
        )
        for m in live.values()
        if m.get("bloom", {}).get("sidecar")
    )
    assert t.read().count() == 100
    assert len(t.lookup_candidates([0])) >= 1


# -- selective small-file compaction (Delta OPTIMIZE minFileSize) ----------


def test_compact_small_leaves_big_files_by_identity(spark, tmp_path):
    t = TxnLogTable(
        spark, str(tmp_path / "cs"), SCHEMA, ["k"]
    )
    big = _rows(spark, [(i, "g", i * 1.0) for i in range(100)])
    t.init(big.repartition(1))  # one 100-row file
    for j in range(5):  # five 2-row files
        t.append(
            _rows(
                spark,
                [(200 + 2 * j, "s", 1.0), (201 + 2 * j, "s", 1.0)],
            ).repartition(1)
        )
    before = t._split_live()[0]
    big_rel = [p for p, m in before.items() if m["rows"] == 100]
    assert len(big_rel) == 1
    v = t.compact_small(max_rows=100)
    assert v is not None
    after = t._split_live()[0]
    # the big file survives BY IDENTITY; the five small ones are packed
    assert big_rel[0] in after
    assert len(after) < len(before)
    small_after = [p for p, m in after.items() if p != big_rel[0]]
    assert len(small_after) < 5
    assert t.read().count() == 110
    # idempotence: everything is now well-sized -> None (no commit)
    assert t.compact_small(max_rows=3) is None


def test_compact_small_keeps_deletion_vectors_masking(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "csdv"), SCHEMA, ["k"])
    t.init(
        _rows(
            spark, [(i, "g", i * 1.0) for i in range(100)]
        ).repartition(1)
    )
    for j in range(4):
        t.append(_rows(spark, [(200 + j, "s", 1.0)]).repartition(1))
    # deferred-delete keys in the BIG file (untouched by the compact)
    # and in a small file (materialized by the compact)
    t.delete_keys_deferred(_rows(spark, [(5, "g", 0.0), (201, "s", 0.0)]).select("k"))
    t.compact_small(max_rows=100)
    ks = {r["k"] for r in t.read().collect()}
    assert 5 not in ks and 201 not in ks
    assert len(ks) == 102
    # the DV file is still live (it masks the untouched big file)
    assert t._split_live()[1], "deletion vector must survive compact_small"


def test_upsert_moving_row_across_partitions_leaves_no_duplicate(
    spark, tmp_path
):
    """Round-7 soundness fix: on a table partitioned by a NON-key
    column, upserting a row whose partition value CHANGED must rewrite
    the old partition's copy too. Pruning the affected set by the
    incoming partition value (the pre-fix behavior) left the old copy
    alive — a duplicate key, silent corruption. Mutation-side pruning
    now uses only key-STABLE partition columns
    (_stable_partition_cols); read-side partition pruning is
    unchanged."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    t = TxnLogTable(
        spark, str(tmp_path / "mv"), schema, ["k"], partition_by=["grp"]
    )
    t.init(
        spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b", float(i)) for i in range(40)],
            schema,
        )
    )
    # k=4 lived in grp=a; the upsert moves it to grp=b
    t.upsert(spark.createDataFrame([(4, "b", 999.0)], schema))
    got = t.read().filter(F.col("k") == 4).collect()
    assert len(got) == 1, f"duplicate key after partition move: {got}"
    assert got[0]["grp"] == "b" and got[0]["val"] == 999.0
    assert t.read().count() == 40
    # delete_keys must also find the moved row
    t.delete_keys(spark.createDataFrame([(4,)], "k long"))
    assert t.read().filter(F.col("k") == 4).count() == 0


def test_fsck_repair_restores_readability(spark, tmp_path):
    """Delta FSCK REPAIR TABLE parity: after a live data file is lost
    from storage, reads fail loudly; repair(dry_run) audits the
    missing set without committing; repair() drops exactly those
    entries in one metadata commit and the table reads again with the
    surviving rows."""
    t = TxnLogTable(
        spark, str(tmp_path / "fsck"), SCHEMA, ["k"],
        partition_by=["grp"],
    )
    rows = _rows(
        spark,
        [(i, "a" if i % 2 == 0 else "b", float(i)) for i in range(40)],
    )
    t.init(rows)
    doomed = t.scan_candidates("grp", "a", "a")
    assert doomed
    for p in doomed:
        os.remove(os.path.join(t.path, p))
    with pytest.raises(Exception):
        t.read().count()  # missing files fail loudly
    audit = t.repair(dry_run=True)
    assert sorted(audit) == sorted(doomed)
    with pytest.raises(Exception):
        t.read().count()  # dry run committed nothing
    removed = t.repair()
    assert sorted(removed) == sorted(doomed)
    got = t.read()
    assert got.count() == 20 and got.filter(F.col("grp") == "a").count() == 0
    assert t.repair(dry_run=True) == []  # idempotent
    # the repair is an auditable commit
    ops = [h["op"] for h in t.history()]
    assert "fsck_repair" in ops


def test_gc_orphans_removes_only_unreferenced_debris(spark, tmp_path):
    """gc_orphans: the disk->log mirror of repair() — crashed writers'
    staged-but-never-committed files are deleted; every referenced
    file (live OR historical), every bloom sidecar, and anything
    younger than the grace window survives."""
    import time as _time

    t = TxnLogTable(spark, str(tmp_path / "gc"), SCHEMA, ["k"])
    t.init(_rows(spark, [(i, "g", float(i)) for i in range(20)]))
    t.upsert(_rows(spark, [(3, "g", 99.0)]))  # makes v0 historical
    # plant debris: a crashed writer's orphan dir, aged past the grace
    orphan_dir = os.path.join(t.path, "data", "deadbeef0000")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-0.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")
    old = _time.time() - 7200
    os.utime(orphan, (old, old))
    # and a FRESH orphan that must survive (possible in-flight writer)
    fresh_dir = os.path.join(t.path, "data", "deadbeef1111")
    os.makedirs(fresh_dir)
    fresh = os.path.join(fresh_dir, "part-0.parquet")
    with open(fresh, "wb") as f:
        f.write(b"in flight")

    before = t.read().count()
    audit = t.gc_orphans(grace_seconds=3600, dry_run=True)
    assert audit == ["data/deadbeef0000/part-0.parquet"]
    assert os.path.exists(orphan)  # dry run touched nothing
    removed = t.gc_orphans(grace_seconds=3600)
    assert removed == audit
    assert not os.path.exists(orphan)
    assert not os.path.exists(orphan_dir)  # emptied dir pruned
    assert os.path.exists(fresh)  # grace window protected
    # table unchanged, history intact, time travel intact
    assert t.read().count() == before
    assert t.read(0).count() == 20
