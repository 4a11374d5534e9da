"""Mutation semantics over parquet tables (SURVEY.md §2.1 S3-S7, §5).

The reference mutates rows in PostgreSQL (INSERT / ON CONFLICT /
UPDATE / DELETE, src/routes/*). Spark has no in-place row mutation on
parquet, so every write re-expresses the operation as a batch
recompute: read → transform → atomic directory swap. This is the
pure-parquet MERGE emulation (SURVEY.md §4: "read-union-dedup-
overwrite"); on a Delta/Iceberg deployment each method maps 1:1 to
``MERGE INTO`` / ``UPDATE`` / ``DELETE`` and the call sites don't
change.

Scale note: each mutation rewrites only the table it touches, and the
transform plans are single-shuffle (anti-join on the key). For a
100 TB fact table you'd partition the files by key range/date and
rewrite only affected partitions (dynamic partition overwrite) —
``ParquetTable(partition_by=...)`` does exactly that.

Every file write goes through ``sources.write_parquet``, which has two
arms. A frame with no ``partition_by``, no row-multiplying plan node
(explode, Python map or UDTF) and an optimizer size estimate under
``DRIVER_WRITE_MAX_BYTES`` (4 MiB) is collected as Arrow and
written by pyarrow on the driver; every other frame takes Spark's
writer. Both lay files out alike: one file per non-empty Spark
partition plus partition 0's, so ``file_count`` and ``compact`` read
the same either way (rows already on the driver, a ``local_frame``,
go to one file on the driver arm). A Spark write job pays ~60 ms
of writer and committer set-up whatever its size; the collect that
replaces it is still one job, so the driver arm cuts time per write,
not the number of jobs.
"""

from __future__ import annotations

import os
import shutil
import uuid
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import run_independent
from ..sources import local_frame, write_parquet


def merge_frame(
    schema: T.StructType,
    keys: list[str],
    target: DataFrame,
    source: DataFrame,
    update_assign: dict[str, Column] | None = None,
    update_cond: Column | None = None,
    delete_cond: Column | None = None,
) -> DataFrame:
    """Row-fate logic of MERGE INTO as a pure frame transform: one
    keyed full-outer join decides every row's fate — matched+
    delete_cond rows drop, matched+update_cond rows take the
    assignments, other matched rows pass through, unmatched source
    rows insert, unmatched target rows keep. Single shuffle on the key
    regardless of how many actions fire. Shared by the full-rewrite
    backend (:class:`ParquetTable`) and the file-pruned copy-on-write
    backend (:class:`~.txnlog.TxnLogTable`), which applies it to the
    affected-file region only."""
    src_cols = [c for c in source.columns if c not in keys]
    s = source.select(
        *keys,
        F.lit(True).alias("_src"),
        *[F.col(c).alias(f"_s_{c}") for c in src_cols],
    )
    t = target.withColumn("_tgt", F.lit(True))
    joined = t.join(s, keys, "full_outer")
    matched = F.col("_tgt").isNotNull() & F.col("_src").isNotNull()
    # WHEN MATCHED AND <cond> THEN DELETE fires only where the
    # condition IS TRUE — coalesce keeps a NULL-evaluating condition
    # from silently deleting the row via the ~delete_hit filter below
    delete_hit = (
        F.coalesce(matched & delete_cond, F.lit(False))
        if delete_cond is not None
        else F.lit(False)
    )
    update_hit = matched & (
        update_cond if update_cond is not None else F.lit(True)
    )
    assigns = update_assign or {}
    out_cols = []
    for f in schema.fields:
        c = f.name
        if c in keys:
            out_cols.append(F.col(c))
            continue
        insert_val = (
            F.col(f"_s_{c}") if c in src_cols else F.lit(None).cast(f.dataType)
        )
        val = (
            F.when(F.col("_tgt").isNull(), insert_val)
            .when(update_hit & ~delete_hit, assigns.get(c, F.col(c)))
            .otherwise(F.col(c))
        )
        out_cols.append(val.alias(c))
    return joined.filter(~delete_hit).select(*out_cols)


class ParquetTable:
    """A keyed, mutable table backed by a parquet directory.

    Writes go to a staging directory then swap in atomically
    (best-effort local rename; object stores would commit via a
    manifest). Readers always see a complete table. Small frames are
    written on the driver, larger ones by Spark (see the module
    docstring); ``append`` and ``insert_ignore`` add files in place.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        keys: list[str],
        partition_by: list[str] | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.schema = schema
        self.keys = keys
        self.partition_by = partition_by or []

    # -- read ---------------------------------------------------------------

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        if not self.exists():
            return local_frame(self.spark, [], self.schema)
        return self.spark.read.schema(self.schema).parquet(self.path)

    def _conform(self, df: DataFrame) -> DataFrame:
        # a frame already in the table's column order and types (every
        # read, and most derived frames) is returned as it is: the
        # cast projection costs several py4j calls per column
        want = [(f.name, f.dataType) for f in self.schema.fields]
        if [(f.name, f.dataType) for f in df.schema.fields] == want:
            return df
        return df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in self.schema.fields]
        )

    # -- write --------------------------------------------------------------

    def _stage(self, df: DataFrame) -> str:
        """Write the conformed ``df`` to a fresh staging directory next
        to the table and return its path."""
        staging = f"{self.path}.staging-{uuid.uuid4().hex[:8]}"
        write_parquet(self._conform(df), staging, "error", self.partition_by)
        return staging

    def _swap_in(self, df: DataFrame) -> None:
        staging = self._stage(df)
        backup = f"{self.path}.old-{uuid.uuid4().hex[:8]}"
        if os.path.exists(self.path):
            os.rename(self.path, backup)
        os.rename(staging, self.path)
        if os.path.exists(backup):
            shutil.rmtree(backup)

    def init(self, df: DataFrame) -> None:
        self._swap_in(df)

    # S3 — plain row append (INSERT ... RETURNING; the rows are already
    # known to the caller, so nothing to return).
    def append(self, rows: DataFrame) -> None:
        write_parquet(self._conform(rows), self.path, "append")

    # S4 — idempotent insert (ON CONFLICT DO NOTHING,
    # src/routes/stocks.js:137-142, users.js:208-213): keep existing
    # rows, add only key-new ones.
    def insert_ignore(self, rows: DataFrame) -> int:
        existing = self.read()
        fresh = (
            self._conform(rows)
            .dropDuplicates(self.keys)
            .join(existing.select(self.keys), self.keys, "left_anti")
        )
        n = fresh.count()
        if n:
            write_parquet(fresh, self.path, "append")
        return n

    # S5 — upsert (ON CONFLICT ... DO UPDATE SET col = EXCLUDED.col,
    # src/routes/lists.js:483-491, portfolio.js:427-435): new rows win
    # on key collision.
    def upsert(self, rows: DataFrame) -> None:
        incoming = self._conform(rows).dropDuplicates(self.keys)
        kept = self.read().join(incoming.select(self.keys), self.keys, "left_anti")
        self._swap_in(kept.unionByName(incoming))

    # S6 — conditional UPDATE incl. arithmetic / COALESCE partial update
    # (CashBalance = CashBalance + $1, SET Name = COALESCE($1, Name) —
    # src/routes/portfolio.js:110-114,162-164).
    def update(self, condition: Column, assignments: dict[str, Column]) -> None:
        df = self.read()
        out = df.select(
            *[
                F.when(condition, assignments[c]).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in df.columns
            ]
        )
        self._swap_in(out)

    # Full MERGE (Delta/Iceberg ``MERGE INTO`` semantics, the superset
    # of S4/S5/S7 the reference spreads across ON CONFLICT inserts and
    # keyed deletes): one keyed full-outer join decides every row's
    # fate — matched+delete_cond rows drop, matched+update_cond rows
    # take the assignments, other matched rows pass through, unmatched
    # source rows insert, unmatched target rows keep. Single shuffle
    # on the key regardless of how many actions fire.
    def merge(
        self,
        source: DataFrame,
        update_assign: dict[str, Column] | None = None,
        update_cond: Column | None = None,
        delete_cond: Column | None = None,
    ) -> None:
        self._swap_in(
            merge_frame(
                self.schema,
                self.keys,
                self.read(),
                source,
                update_assign,
                update_cond,
                delete_cond,
            )
        )

    # S7 — DELETE WHERE (src/routes/stocks.js:187-189, lists.js:661-666).
    def delete(self, condition: Column) -> None:
        # SQL DELETE removes rows where the predicate IS TRUE; a NULL
        # predicate (e.g. `val < 0` on a NULL val) must KEEP the row.
        # A bare filter(~condition) silently deletes those rows —
        # three-valued logic makes ~NULL also NULL, and filters drop
        # NULL — so survivorship is NOT(pred IS TRUE), not ~pred.
        self._swap_in(
            self.read().filter(~F.coalesce(condition, F.lit(False)))
        )

    # S7 variant — delete by key set (anti-join rewrite).
    def delete_keys(self, keys_df: DataFrame) -> None:
        self._swap_in(self.read().join(keys_df, self.keys, "left_anti"))

    # -- maintenance --------------------------------------------------------

    def file_count(self) -> int:
        return sum(
            1
            for root, _, files in os.walk(self.path)
            for f in files
            if f.endswith(".parquet")
        )

    def compact(self, target_files: int) -> None:
        """Small-files compaction: rewrite the table into
        ``target_files`` parquet files (content-identical, same atomic
        swap as every other write).

        Streaming ingest and frequent upserts fragment a table into
        many small files; at 100 TB the scan's task count — and the
        NameNode/object-store listing cost — tracks file count, not
        byte count, so periodic compaction is a first-class
        maintenance op (Delta OPTIMIZE / Iceberg rewrite_data_files).
        ``repartition`` gives evenly-sized output files; a real
        deployment sizes target_files from bytes/maxPartitionBytes
        and compacts per partition, not the whole table.
        """
        self._swap_in(self.read().repartition(target_files))


class CommitConflict(Exception):
    """Optimistic-concurrency commit lost the race (version moved)."""


class VersionedParquetTable(ParquetTable):
    """Snapshot-versioned variant: every write lands a NEW immutable
    version directory (``<path>/_v{n}``) instead of replacing the
    table in place, so readers can time-travel to any retained
    snapshot — Delta/Iceberg ``VERSION AS OF`` semantics on plain
    parquet. The version counter is the directory listing (rename is
    the commit; object stores would commit a manifest instead), writes
    are append-only at the directory level, and ``vacuum(keep_last)``
    is the explicit retention knob. Every inherited mutation (upsert,
    update, delete, compact) versions automatically because they all
    funnel through ``_swap_in``.
    """

    def _vdir(self, n: int) -> str:
        return os.path.join(self.path, f"_v{n}")

    def versions(self) -> list[int]:
        if not os.path.isdir(self.path):
            return []
        out = []
        for name in os.listdir(self.path):
            if name.startswith("_v") and name[2:].isdigit():
                out.append(int(name[2:]))
        return sorted(out)

    def current_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def exists(self) -> bool:
        return self.current_version() is not None

    def read(self, version: int | None = None) -> DataFrame:
        """Read a snapshot; ``version=None`` reads the latest."""
        if version is None:
            version = self.current_version()
        if version is None:
            return local_frame(self.spark, [], self.schema)
        return self.spark.read.schema(self.schema).parquet(
            self._vdir(version)
        )

    def _swap_in(self, df: DataFrame) -> None:
        staging = self._stage(df)
        os.makedirs(self.path, exist_ok=True)
        cur = self.current_version()
        os.rename(staging, self._vdir(0 if cur is None else cur + 1))

    # the directory-append fast paths must version too: rewrite via
    # the snapshot chain (a Delta deployment would commit an AddFile
    # action instead of rewriting — same reader semantics).
    def append(self, rows: DataFrame) -> None:
        self._swap_in(self.read().unionByName(self._conform(rows)))

    def insert_ignore(self, rows: DataFrame) -> int:
        existing = self.read()
        fresh = (
            self._conform(rows)
            .dropDuplicates(self.keys)
            .join(existing.select(self.keys), self.keys, "left_anti")
        )
        n = fresh.count()
        if n:
            self._swap_in(existing.unionByName(fresh))
        return n

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshots; returns
        the versions removed."""
        vs = self.versions()
        doomed = vs[:-keep_last] if keep_last > 0 else vs
        for v in doomed:
            shutil.rmtree(self._vdir(v), ignore_errors=True)
        return doomed

    # -- optimistic concurrency (Delta/Iceberg commit-protocol shape) --

    def commit_as(self, df: DataFrame, expected_version: int | None) -> int:
        """Compare-and-swap commit: land ``df`` as the next snapshot
        IFF the table is still at ``expected_version`` (None = "I
        expect an empty table"). The staged write happens before the
        check-and-rename, so a losing writer pays the write but never
        corrupts the chain — the rename onto an existing version
        directory fails atomically, which IS the conflict detector (a
        Delta deployment puts the same CAS on the commit-log entry; an
        object store on a manifest PUT-if-absent). Raises
        :class:`CommitConflict`; returns the committed version."""
        staging = self._stage(df)
        os.makedirs(self.path, exist_ok=True)
        target_v = 0 if expected_version is None else expected_version + 1
        cur = self.current_version()
        if cur != expected_version:
            shutil.rmtree(staging, ignore_errors=True)
            raise CommitConflict(
                f"expected v{expected_version}, table is at v{cur}"
            )
        try:
            os.rename(staging, self._vdir(target_v))
        except OSError as e:  # lost the race after the version check
            shutil.rmtree(staging, ignore_errors=True)
            raise CommitConflict(
                f"v{target_v} committed concurrently"
            ) from e
        return target_v

    def modify_with_retry(
        self,
        transform,
        max_retries: int = 3,
    ) -> int:
        """Optimistic-concurrency loop: read the current snapshot,
        apply ``transform(df) -> df``, CAS-commit; on conflict REBASE
        by re-reading the new head and re-deriving — the standard
        Delta/Iceberg writer loop. The transform must therefore be a
        pure function of the snapshot (idempotent re-derivation), not
        a closure over previously-read data. Returns the committed
        version."""
        for _ in range(max_retries + 1):
            base = self.current_version()
            out = transform(self.read(base))
            try:
                return self.commit_as(out, base)
            except CommitConflict:
                continue
        raise CommitConflict(f"gave up after {max_retries} rebases")


# --------------------------------------------------------------------------
# S7 cascade — FK ON DELETE CASCADE as explicit multi-table deletes.
# The reference's schema declares CASCADE on every child FK
# (sql/schema.sql:21,28,36,44,54,60,77,93-94); Postgres walks the FK
# graph implicitly, Spark has no FKs, so the walk is explicit here.
# --------------------------------------------------------------------------
# A cascade spec is a list of edges: (child_table, fk_maps, grandchildren)
# where fk_maps is a list of {child_col: parent_key_col} dicts — one per
# FK the child has to this parent (friend has TWO, userid1 and userid2;
# matching ANY of them dooms the row).
CascadeSpec = list  # recursive: [(ParquetTable, [dict], CascadeSpec), ...]


def _subtree_paths(spec: CascadeSpec) -> list[str]:
    """Every table path reachable from a cascade spec (for the sibling
    disjointness check below)."""
    out: list[str] = []
    for child, _fk_maps, grandchildren in spec:
        out.append(child.path)
        out.extend(_subtree_paths(grandchildren))
    return out


def cascade_delete_keys(
    table: ParquetTable,
    keys_df: DataFrame,
    children: CascadeSpec = (),
) -> None:
    """Delete ``table`` rows matching ``keys_df`` (on table.keys),
    depth-first cascading into ``children`` before touching this level
    so every child computes its doomed set against pre-delete data.

    Each level's doomed keys are pinned with an eager local checkpoint
    before any rewrite, so they survive the directory swaps (a lazy
    plan would re-read post-swap files). The blocks stay on the
    executors: the doomed set of a hot parent (users →
    friend/request/review) can exceed driver memory at scale, so it
    never passes through the driver. Key sets may hold duplicates:
    they only feed left-semi and left-anti joins, which ignore them.

    Sibling subtrees touch disjoint tables in the common case (one FK
    tree), so they are processed CONCURRENTLY (guide §2.6): each
    sibling's snapshot + rewrite are independent Spark jobs whose wall
    is mostly job-launch/commit latency at bench scale, and on a
    cluster the overlap back-fills executors idled by each sibling's
    task tail. If any table path appears in two sibling subtrees the
    loop falls back to the original serial order (a shared table's
    pre-delete read would otherwise race a sibling's rewrite).

    Not atomic. If a sibling subtree fails, the siblings that already
    finished stay deleted, queued siblings do not start, this level is
    not deleted, and the first error propagates."""

    def one_child(spec) -> None:
        child, fk_maps, grandchildren = spec
        doomed_child = None
        for m in fk_maps:
            probe = keys_df.select(*[F.col(pk).alias(cc) for cc, pk in m.items()])
            hit = (
                child.read()
                .join(probe, list(m.keys()), "left_semi")
                .select(child.keys)
            )
            doomed_child = hit if doomed_child is None else doomed_child.union(hit)
        cascade_delete_keys(
            child, doomed_child.localCheckpoint(eager=True), grandchildren
        )

    sib_paths = [_subtree_paths([c]) for c in children]
    flat = [p for ps in sib_paths for p in ps]
    disjoint = len(flat) == len(set(flat))
    if disjoint:
        run_independent(table.spark, *[partial(one_child, c) for c in children])
    else:
        for spec in children:
            one_child(spec)
    table.delete_keys(keys_df)


def cascade_delete(
    parent: ParquetTable, condition: Column, children: CascadeSpec = ()
) -> None:
    """DELETE FROM parent WHERE condition, cascading through the FK
    graph (ON DELETE CASCADE semantics, done explicitly)."""
    doomed = parent.read().filter(condition).select(parent.keys)
    cascade_delete_keys(parent, doomed.localCheckpoint(eager=True), children)
