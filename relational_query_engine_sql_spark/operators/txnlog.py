"""Transaction-log table format: ACID-shaped mutations on parquet.

:class:`~.mutation.VersionedParquetTable` gives snapshot isolation by
rewriting the WHOLE table per commit — correct, but copy-on-write at
table granularity, which at 100 TB turns a 10-row upsert into a
100 TB write. This module implements the public Delta-Lake/Iceberg
protocol shape from scratch (no Delta/Iceberg dependency — neither is
installable in this environment) so mutations are copy-on-write at
FILE granularity:

- Data lives in immutable parquet files under ``<path>/data/``.
  Nothing is ever modified in place; a file is only ever added or
  logically removed.
- The table state is a JSON commit log ``<path>/_txn_log/{n}.json``.
  Each commit is a list of ``add``/``remove`` file actions; the live
  snapshot at version n is the replay of commits 0..n.
- Every ``add`` carries per-file min/max stats for EVERY key column,
  so a keyed write (upsert / delete_keys / merge) rewrites ONLY the
  files whose key ranges can contain the incoming keys — file
  skipping, the same mechanic Delta calls data skipping; composite-PK
  tables (the reference's ``(symbol, timestamp)`` Stocks key,
  sql/schema.sql:1-10) prune on all columns.
- Data-file adds also carry a bounded per-file Bloom bitmask over the
  first key column (Delta's file-level bloom index): point lookups
  (:meth:`TxnLogTable.lookup`) prune files min/max ranges cannot,
  because a hash-shuffled layout makes every file span nearly the
  whole key range.
- Commit = ``CommitBackend.put_if_absent(log/{n}.json)``: atomic
  create-if-absent IS the compare-and-swap, exactly the
  optimistic-concurrency protocol Delta puts on its log entry. The
  backend is pluggable: :class:`LocalCommitBackend` uses POSIX
  O_EXCL; an object-store deployment swaps in a conditional-PUT
  implementation (S3 ``If-None-Match: *`` / GCS
  ``if-generation-match: 0`` — see SCALE.md) without touching the
  protocol. Every mutation pins the version its snapshot was read at
  and commits at exactly that version + 1, so losers — including a
  writer whose read-compute window was raced — get
  :class:`CommitConflict` and rebase.
- Every 10th commit also writes a checkpoint of the full live-file
  set, so snapshot reconstruction replays at most 10 deltas instead
  of the whole history (Delta's ``_last_checkpoint`` mechanic).

Reference semantics covered: INSERT / ON CONFLICT DO NOTHING /
ON CONFLICT DO UPDATE / conditional UPDATE / DELETE
(sql/schema.sql:101-110, src/routes/stocks.js:137-142,
portfolio.js:110-114) — same call surface as :class:`ParquetTable`,
so every plans/queries_mutation.py scenario runs unchanged on either
backend.

Scale notes: the log and stats are metadata — KB per commit — and
snapshot replay is pure driver-side bookkeeping over file NAMES, never
data. The data path stays fully distributed: the only frames that move
are the affected files' rows. This is the layout that keeps a 10-row
upsert on a 100 TB table a 128 MB job instead of a 100 TB one.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .mutation import CommitConflict, ParquetTable, merge_frame


class ConstraintViolation(ValueError):
    """A write produced rows that fail an active CHECK constraint (or
    ADD CONSTRAINT found existing rows that do). The offending commit
    never lands — staged files are removed and the table is unchanged."""

CHECKPOINT_EVERY = 10

# Per-file Bloom filter over the FIRST key column: min/max ranges
# cannot prune POINT lookups when the layout is not key-clustered
# (every file spans nearly the full key range), which is exactly
# Delta's motivation for file-level bloom indexes. Probe positions
# are md5 hex slices (engine-neutral, same family as the stats
# hashes). The mask is SIZED PER FILE from the file's observed
# distinct-key count (Delta's fpp/numItems sizing knob): m = the
# smallest power of two >= BLOOM_BITS_PER_KEY x distinct keys,
# clamped to [BLOOM_MIN_BITS, BLOOM_MAX_BITS] — a fixed mask's
# false-positive rate would climb toward 1 as files grow, silently
# erasing the pruning benefit past the validated scale factors. Each
# add-action records its own m/j, so readers probe with the writer's
# geometry (and masks written by older fixed-size code keep working).
# The cap is the probe-slice domain (2 x 16-bit slices => 65536
# positions, <=16 KB hex per file). The hex masks live in SIDECAR
# files staged with their data directory (Delta's sidecar-index
# shape, one blooms.json per write): log entries and checkpoints
# carry only a small {m, j, sidecar} reference, so plan-time metadata
# stays KB-scale at any file count, and readers load masks lazily —
# only for files that survive range pruning (_resolve_bloom, cached;
# legacy inline {"hex": ...} actions keep working).
BLOOM_MIN_BITS = 1024
BLOOM_MAX_BITS = 65536  # == the 16-bit probe-slice domain
BLOOM_BITS_PER_KEY = 16  # with j=2 probes: fpr ~ (1-e^-1/8)^2 ~ 1.4%
BLOOM_PROBES = 2  # hex slices [0:4) and [4:8) of the key's md5
# mutations probe the bloom only for incoming key sets at most this
# large: the probe values must come to the driver, so the fetch has
# to stay metadata-sized (bulk writes skip straight to range pruning)
BLOOM_AFFECTED_LIMIT = 128

# Table-protocol versions THIS implementation understands (Delta's
# minReaderVersion/minWriterVersion feature gating): a table whose log
# requires a newer protocol than the running code fails LOUDLY at
# read/commit time instead of silently misreading data written with
# features it doesn't know. Version 2 = column mapping (logical
# renames/drops over immutable physical column names). Writer
# version 3 = row tracking (stable row ids whose materialization
# rewrites must preserve — an unaware writer compacting a row-tracked
# table would silently break row lineage, so the table demands
# min_writer 3; readers are unaffected because the extra physical
# _row_id column is invisible to schema-projected scans). Tables never
# bump their protocol until a gated feature is actually used, so
# version-1 readers keep working on every pre-existing table.
PROTOCOL_READER = 2
PROTOCOL_WRITER = 3

# Physical name of the row-tracking column that preserving rewrites
# materialize into data files (Delta row tracking's materialized
# row-id column). Reserved: user schemas must not declare it.
ROWID_COL = "_row_id"


def _default_cmap() -> dict:
    """Column-mapping state of a table that never used the feature."""
    return {
        "map": {},  # logical name -> physical (on-disk parquet) name
        "retired": [],  # physical names of DROPPED columns, never reused
        "protocol": {"min_reader": 1, "min_writer": 1},
    }


class ProtocolUnsupported(RuntimeError):
    """The table's log requires a newer reader/writer protocol than
    this implementation provides (Delta's invalid-protocol-version
    error). Failing loudly here is the feature: a too-old reader that
    ignored, say, column mapping would silently return data under the
    wrong column names."""

# per-file min/max stats cover the key columns plus the first
# prunable non-key columns up to this many total — Delta's
# dataSkippingNumIndexedCols cap, keeping add-actions KB-scale on
# wide tables while predicate scans still skip files
STATS_MAX_COLS = 32
_STATS_COL_TYPES = {
    "tinyint",
    "smallint",
    "int",
    "bigint",
    "float",
    "double",
    "decimal",
    "string",
    "date",
    "timestamp",
    "timestamp_ntz",
}

# key types whose Spark `cast(k as string)` equals Python `str(v)`,
# making driver-side membership probes hash-identical to the
# executor-side build (timestamps/decimals format differently and
# fall back to range-only pruning)
_BLOOM_KEY_TYPES = {
    "tinyint",
    "smallint",
    "int",
    "bigint",
    "string",
    "date",
}


def _bloom_positions_py(v, m: int, j: int) -> list[int] | None:
    """Driver-side probe positions for a lookup value against a mask
    of ``m`` bits / ``j`` probes (the WRITER's recorded geometry);
    None when the value's string form may not match Spark's cast (no
    prune)."""
    import hashlib

    if isinstance(v, bool) or not isinstance(
        v, (int, str, datetime.date)
    ):
        return None
    if isinstance(v, datetime.datetime):  # date subclass, but formats
        return None  # with a time component Spark won't reproduce
    h = hashlib.md5(str(v).encode()).hexdigest()
    return [int(h[4 * i : 4 * i + 4], 16) % m for i in range(j)]


def _bloom_contains(bloom: dict, v) -> bool:
    """Membership probe against a file's serialized bitmask, using
    the per-file m/j the action recorded at write time. False means
    DEFINITELY absent (safe to skip the file); True means maybe
    present — including every un-probe-able value type."""
    pos = _bloom_positions_py(
        v, bloom.get("m", BLOOM_MAX_BITS), bloom.get("j", BLOOM_PROBES)
    )
    if pos is None:
        return True
    mask = int(bloom["hex"], 16)
    return all((mask >> p) & 1 for p in pos)


class CommitBackend:
    """The two primitives the commit protocol needs from storage.

    ``put_if_absent`` is the compare-and-swap: exactly one writer may
    create a given log entry. On a local filesystem that is
    ``open(path, "x")``; on S3 it is a conditional PUT with
    ``If-None-Match: *``; on GCS, ``x-goog-if-generation-match: 0``;
    on stores without conditional PUT (pre-2024 S3), Delta's answer is
    an external lock/CAS service (e.g. a DynamoDB LogStore) — all of
    them implement exactly this one-method contract, which is why the
    protocol stays correct on an object store once this class is
    swapped (see SCALE.md).

    ``publish_atomic`` is all-or-nothing visibility for derived
    metadata (checkpoints): readers must never observe a torn file.
    Locally that is write-temp-then-``os.rename``; object-store PUTs
    are already atomic.
    """

    def put_if_absent(self, path: str, payload: str) -> bool:
        raise NotImplementedError

    def publish_atomic(self, path: str, payload: str) -> None:
        raise NotImplementedError


class LocalCommitBackend(CommitBackend):
    """POSIX implementation: O_CREAT|O_EXCL create as the CAS, and
    temp-file + ``os.rename`` (atomic on POSIX) as the publish."""

    def put_if_absent(self, path: str, payload: str) -> bool:
        try:
            with open(path, "x", encoding="utf-8") as f:
                f.write(payload)
            return True
        except FileExistsError:
            return False

    def publish_atomic(self, path: str, payload: str) -> None:
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(payload)
        os.rename(tmp, path)


class TransientStoreError(IOError):
    """A store request failed at the network layer (S3 5xx / dropped
    connection). The request may or may not have been applied — the
    classic lost-response ambiguity the commit protocol must survive."""


class ObjectStoreCommitBackend(CommitBackend):
    """Commit backend with OBJECT-STORE write semantics, modeled
    in-process so the commit protocol's behavior on S3/GCS is testable
    without either (neither is reachable here; the semantics below are
    the published ones).

    Differences from :class:`LocalCommitBackend` that matter:

    - ``put_if_absent`` is a CONDITIONAL PUT (S3 ``If-None-Match: *``,
      GCS ``x-goog-if-generation-match: 0``): the store evaluates the
      precondition and materializes the object ATOMICALLY server-side
      — modeled by the per-store mutex — and the object becomes
      visible ALL-OR-NOTHING. A POSIX ``open(x)`` create is atomic on
      the *name* but then written incrementally; an object-store PUT
      can never expose a torn object.
    - ``publish_atomic`` is just a full-object PUT (every object-store
      PUT is atomic; there is no rename to lean on).
    - LOST RESPONSES: a PUT can succeed server-side while the writer
      sees a network error. A naive retry of a conditional PUT then
      gets 412 PreconditionFailed *for its own committed write* and
      would wrongly report a lost race — losing a commit that actually
      landed. The backend resolves the ambiguity the way a production
      LogStore does: re-read the object and compare payloads. Commit
      payloads embed the writer's uuid-staged file names, so
      byte-equality identifies a self-win unambiguously.

    Fault injection (tests only): ``inject_fault("before")`` drops the
    next request before the store processes it; ``inject_fault
    ("after")`` lets the store process it but loses the response.
    ``max_retries=0`` turns a transient fault into a hard crash at the
    caller, for crash-mid-commit / crash-mid-checkpoint scenarios.

    PRODUCTION ADAPTER MAPPING — a real S3/GCS backend is this class
    with ``_server_put`` and the disambiguation read swapped for SDK
    calls; nothing above the interface changes. Per method:

    ============================  ==============================================
    model operation               production call
    ============================  ==============================================
    ``put_if_absent`` request     boto3 ``put_object(Bucket, Key, Body,
                                  IfNoneMatch="*")`` — 412
                                  ``PreconditionFailed`` ⇒ return False;
                                  GCS ``blob.upload_from_string(payload,
                                  if_generation_match=0)`` — 412 ⇒ False;
                                  Azure ``upload_blob(...,
                                  overwrite=False)`` —
                                  ``ResourceExistsError`` ⇒ False
    ``publish_atomic`` request    unconditional ``put_object`` /
                                  ``upload_from_string`` (every
                                  object-store PUT is atomic; retry freely,
                                  it is idempotent)
    ``TransientStoreError``       the SDK's retryable transport errors
                                  (boto3 ``ConnectionError`` /
                                  ``ReadTimeoutError``, HTTP 5xx after SDK
                                  retries)
    self-win disambiguation       ``get_object`` / ``blob.download_as_text``
    (re-read + payload compare)   and byte-compare against our payload —
                                  commit payloads embed the writer's
                                  uuid-staged file names, so equality is
                                  unambiguous
    ``generations`` bookkeeping   S3 ``x-amz-version-id`` / GCS
                                  ``generation`` from the PUT response
                                  (observability only; the protocol never
                                  reads it)
    store without conditional     Delta's DynamoDB LogStore shape: an
    PUT (pre-Nov-2024 S3)         external table keyed by (table, version)
                                  with a conditional ``PutItem`` — still
                                  exactly ``put_if_absent``
    ============================  ==============================================
    """

    def __init__(self, max_retries: int = 3) -> None:
        import threading

        self.max_retries = max_retries
        self._mutex = threading.Lock()  # the store's server-side atomicity
        self._faults: list[str] = []
        self.generations: dict[str, int] = {}  # path -> PUT count

    def inject_fault(self, when: str, n: int = 1) -> None:
        """Queue faults for upcoming requests, in request order.
        ``"before"`` = dropped pre-store, ``"after"`` = applied but
        response lost, ``"ok"`` = let this request through (padding,
        to aim a fault at the Nth request from now)."""
        assert when in ("before", "after", "ok")
        self._faults.extend([when] * n)

    def _server_put(self, path: str, payload: str, if_absent: bool) -> bool:
        """One request round-trip against the simulated store."""
        fault = self._faults.pop(0) if self._faults else "ok"
        if fault == "before":  # never reached the store
            raise TransientStoreError(f"connection dropped: PUT {path}")
        with self._mutex:
            ok = not (if_absent and os.path.exists(path))
            if ok:
                # all-or-nothing visibility: the object appears fully
                # written or not at all (temp+rename models the
                # store's internal atomicity, not a filesystem API
                # the protocol relies on)
                tmp = f"{path}.{uuid.uuid4().hex[:8]}.staging"
                with open(tmp, "w", encoding="utf-8") as f:
                    f.write(payload)
                os.rename(tmp, path)
                self.generations[path] = self.generations.get(path, 0) + 1
        if fault == "after":  # applied, but the response was lost
            raise TransientStoreError(f"response lost: PUT {path}")
        return ok

    def put_if_absent(self, path: str, payload: str) -> bool:
        attempts = 0
        while True:
            try:
                return self._server_put(path, payload, if_absent=True)
            except TransientStoreError:
                attempts += 1
                if attempts > self.max_retries:
                    raise
                # retry path: if the object now exists, disambiguate
                # self-win (our lost-response PUT landed) from a lost
                # race by payload comparison
                if os.path.exists(path):
                    with open(path, encoding="utf-8") as f:
                        return f.read() == payload

    def publish_atomic(self, path: str, payload: str) -> None:
        attempts = 0
        while True:
            try:
                self._server_put(path, payload, if_absent=False)
                return
            except TransientStoreError:
                attempts += 1
                if attempts > self.max_retries:
                    raise
                # unconditional PUT is idempotent: just retry


def _js(v):
    """JSON-safe scalar for stats. Date/datetime isoformat is
    order-consistent under string compare, so those stay prunable.
    Decimal order is NOT string order (lexicographic "100" < "99")
    and float-rounding it could flip a boundary, so Decimals are
    tagged ``{"D": str}`` and compared as exact Decimals again by
    ``_overlaps`` — money-keyed tables keep full pruning."""
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return {"D": str(v)}
    return v


def _thaw(v):
    """Inverse of the ``_js`` tagging for comparison purposes."""
    if isinstance(v, dict) and "D" in v:
        return decimal.Decimal(v["D"])
    return v


def _col_overlaps(rng: list | None, lo, hi) -> bool:
    """Can a file whose column range is ``rng=[min,max]`` contain any
    value in [lo, hi]? Unknown/incomparable stats → True (prune is an
    optimization; the superset is always correct)."""
    if not rng or rng[0] is None or rng[1] is None:
        return True
    mn, mx = _thaw(rng[0]), _thaw(rng[1])
    lo, hi = _thaw(lo), _thaw(hi)
    try:
        return not (mx < lo or mn > hi)
    except TypeError:
        return True


def _norm_stats(stats, keys: list[str]) -> dict:
    """Normalize an add-action's stats to the per-column dict shape.

    The log format originally recorded a bare ``[min, max]`` list for
    the FIRST key column only; the current format is
    ``{col: [min, max], ...}``. A table written by the older code must
    stay readable and mutable (its log entries and checkpoints carry
    the old shape forever), so the legacy list is interpreted as
    first-key-only stats — pruning degrades gracefully to what the old
    writer actually knew instead of crashing on ``list.get``."""
    if isinstance(stats, list):
        return {keys[0]: stats}
    return stats or {}


def _overlaps(stats: dict | list | None, bounds: dict, keys: list[str]) -> bool:
    """Multi-column skip test: the file is prunable iff ANY key
    column's range is disjoint from the incoming bounds — on a
    composite-key table (the reference's ``(symbol, timestamp)``
    Stocks PK, sql/schema.sql:1-10) a write for one symbol's recent
    ticks prunes on BOTH columns, not just the first."""
    stats = _norm_stats(stats, keys)
    if not stats:
        return True
    for col, (lo, hi) in bounds.items():
        if not _col_overlaps(stats.get(col), lo, hi):
            return False
    return True


class TxnLogTable(ParquetTable):
    """Keyed mutable table with a Delta-protocol-shaped commit log.

    Same interface as :class:`ParquetTable` (plus ``read(version=)``
    time travel, ``history()``, ``vacuum()``), different write
    mechanics: append-only data files, file-level copy-on-write,
    CAS commits.

    ``partition_by`` declares a PARTITION-COLUMN LAYOUT (Delta's
    ``partitionValues`` mechanic): every data file holds exactly one
    value per partition column, written under hive-style
    ``p_<col>=<value>`` directories, and each add-action records the
    values as string metadata. Scans and keyed writes then prune
    partition-first — an EXACT directory-level skip (a file either is
    the probed value or is not, no min/max overlap slop) — composing
    with the per-file stats/bloom skipping for the non-partition
    columns. This is the reference's fact-table use case
    (sql/schema.sql:1-10 keys stocks by (symbol, timestamp);
    src/routes/stocks.js:42-47 probes one symbol): partition by
    symbol and a probe touches one directory's files, stats then
    prune within it by timestamp. Unlike a plain hive layout the
    pruning reads ONLY log metadata — no directory listing at plan
    time, the property that matters when the store is S3 at 100 TB.
    Unpartitioned tables rely on stats/bloom/Z-order alone, which
    subsume the layout for keyed writes (Delta likewise leans on
    stats over physical partitioning for high-cardinality keys).
    """

    def __init__(
        self,
        *args,
        commit_backend: CommitBackend | None = None,
        generated: dict[str, str] | None = None,
        **kwargs,
    ) -> None:
        super().__init__(*args, **kwargs)
        self.backend = commit_backend or LocalCommitBackend()
        # GENERATED columns declared at creation ({name: SQL expr});
        # persisted by init()'s metadata action — after the first
        # commit the LOG is authoritative (_gencols_at), so other
        # instances/sessions see them without the constructor arg
        self._generated = dict(generated or {})
        for g in self._generated:
            if g not in self._base_schema.fieldNames():
                raise ValueError(f"generated column not in schema: {g}")
            if g in self.keys:
                raise ValueError(f"key column cannot be generated: {g}")
        # in-flight schema-evolution overrides (append merge_schema):
        # set only while an evolving write stages its files, so the
        # staging path conforms/writes against the WIDENED schema the
        # same commit is about to declare — never persisted, the
        # metadata action in that commit is the durable record
        self._pending_schema = None
        self._pending_cmap: dict | None = None
        # version-keyed SNAPSHOT CACHE for the replayed live-file map
        # (Delta caches snapshots the same way): a table version is
        # immutable once committed, so caching by version is always
        # correct — concurrent writers create NEW versions, which miss
        # the cache naturally. Without it every plan-time probe
        # (scan_candidates / lookup / read) re-parses the whole log;
        # at the 200-file sf1 probe that was ~1.1 s of driver-side
        # JSON per call (SCALE.md round-7 notes).
        self._snap_cache: dict[int, dict] = {}
        # same idea for the effective schema: _schema_at walks log
        # entries (json.load per version — entries carry KB-scale
        # bloom hexes), and the plan-time pruning path consults the
        # schema once per FILE per probe (_typed_part). At the 200-file
        # sf1 probe the uncached walk was 5.8 s of redundant JSON per
        # 8-key lookup.
        self._schema_cache: dict[int, object] = {}
        # sidecar-path -> {file relpath: mask hex}; sidecar files are
        # immutable once committed (staged with their data dir), so
        # the cache never invalidates
        self._bloom_sidecars: dict[str, dict] = {}
        # version-keyed COLUMN-MAPPING state cache (same immutability
        # argument as the snapshot/schema caches above)
        self._cmap_cache: dict[int, dict] = {}
        # Validate only the CONSTRUCTOR-declared partitioning against
        # the constructor-declared base schema. The partition_by
        # property resolves the LOG's evolved spec once the caches
        # above exist — a spec set later (set_partitioning) may name a
        # column added via add_columns, which the base schema predates;
        # validating the resolved spec here made every such table
        # unopenable through the original constructor schema. The
        # evolved spec is validated against the evolved schema at
        # set_partitioning time.
        bad = [
            c
            for c in (self.__dict__.get("_ctor_partition_by") or [])
            if c not in self._base_schema.fieldNames()
        ]
        if bad:
            raise ValueError(f"partition_by not in schema: {bad}")

    # -- partition spec evolution (Iceberg's spec-evolution mechanic) --------
    #
    # ``partition_by`` resolves from the LOG once a spec was ever
    # committed (set_partitioning), falling back to the constructor
    # declaration. Old-era files keep their old layout and stay fully
    # valid: every file records its own partitionValues, every pruning
    # path reads per-file metadata (a file without a value for some
    # partition column simply never partition-prunes on it and falls
    # back to its min/max stats), and reads are flat multi-file scans
    # (files are self-contained — partition columns are duplicated
    # into file contents at write). So evolving the spec is a
    # METADATA-ONLY commit and no rewrite ever happens — the Iceberg
    # property Delta lacks (Delta requires a full table rewrite to
    # change partitioning).

    @property
    def partition_by(self) -> list[str]:
        # during ParquetTable.__init__ the txnlog caches don't exist
        # yet — resolve to the constructor value until they do
        if "_cmap_cache" in self.__dict__:
            spec = self._cmap_at(None).get("part_spec")
            if spec is not None:
                return list(spec)
        return list(self.__dict__.get("_ctor_partition_by") or [])

    @partition_by.setter
    def partition_by(self, value) -> None:
        self.__dict__["_ctor_partition_by"] = list(value or [])

    def set_partitioning(self, cols: list[str]) -> int:
        """ALTER TABLE ... change the partition spec — metadata-only:
        zero data files touched. New writes lay out under the new
        spec; existing files keep their recorded partitionValues and
        prune exactly as before. Columns must exist, must not be
        renamed (partition columns are written under their own names
        into hive-style directories), and generated partition columns
        keep their key-stability analysis for mutation pruning
        (_stable_partition_cols re-evaluates under the new spec)."""
        base = self.current_version()
        self._check_protocol(base, write=True)
        cols = list(cols or [])
        cur = self._schema_at(base) if base is not None else self.schema
        bad = [c for c in cols if c not in cur.fieldNames()]
        if bad:
            raise ValueError(f"partition columns not in schema: {bad}")
        m = self._mapping_at(base)
        mapped = [c for c in cols if m.get(c, c) != c]
        if mapped:
            raise ValueError(
                f"renamed columns cannot become partition columns: "
                f"{mapped}"
            )
        state = json.loads(json.dumps(self._cmap_at(base)))
        state["part_spec"] = cols
        return self._commit(
            "set_partitioning",
            [{"metadata": {"schema": cur.jsonValue(), "cmap": state}}],
            base,
        )

    # -- log bookkeeping (driver-side metadata only) ------------------------

    def _log_dir(self) -> str:
        return os.path.join(self.path, "_txn_log")

    def _log_path(self, n: int) -> str:
        return os.path.join(self._log_dir(), f"{n:020d}.json")

    def _ckpt_path(self, n: int) -> str:
        return os.path.join(self._log_dir(), f"{n:020d}.checkpoint.json")

    def versions(self) -> list[int]:
        d = self._log_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(d)
            if f.endswith(".json") and not f.endswith(".checkpoint.json")
        )

    def current_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def exists(self) -> bool:
        return self.current_version() is not None

    def _live(self, version: int | None = None) -> dict[str, dict]:
        """relpath -> {rows, stats} of the files live at ``version``,
        replayed from the newest checkpoint at or before it."""
        if version is None:
            version = self.current_version()
        if version is None:
            return {}
        cached = self._snap_cache.get(version)
        if cached is not None:
            # shallow copy: callers may add/pop entries of THEIR view;
            # per-file meta dicts are treated as immutable everywhere
            return dict(cached)
        if not os.path.exists(self._log_path(version)):
            raise ValueError(f"no such version: {version}")
        start, live = 0, {}
        for v in range(version, -1, -1):
            if os.path.exists(self._ckpt_path(v)):
                with open(self._ckpt_path(v), encoding="utf-8") as f:
                    live = json.load(f)["live"]
                start = v + 1
                break
        for v in range(start, version + 1):
            with open(self._log_path(v), encoding="utf-8") as f:
                entry = json.load(f)
            for a in entry["actions"]:
                if "add" in a:
                    live[a["add"]["path"]] = {
                        "rows": a["add"]["rows"],
                        "stats": a["add"].get("stats"),
                        **(
                            {"bloom": a["add"]["bloom"]}
                            if a["add"].get("bloom")
                            else {}
                        ),
                        **(
                            {"part": a["add"]["part"]}
                            if a["add"].get("part")
                            else {}
                        ),
                        **({"dv": True} if a["add"].get("dv") else {}),
                    }
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
                # "metadata" actions don't touch the file set
        self._snap_cache[version] = live
        if len(self._snap_cache) > 8:  # keep recent snapshots only
            self._snap_cache.pop(min(self._snap_cache))
        return dict(live)

    # -- schema evolution (Delta metadata-action shape) ---------------------

    def _ckpt_payload(self, v: int) -> dict | None:
        """Checkpoint payload at exactly version ``v``, or None."""
        if not os.path.exists(self._ckpt_path(v)):
            return None
        with open(self._ckpt_path(v), encoding="utf-8") as f:
            return json.load(f)

    def _schema_at(self, version: int | None):
        """Effective schema at ``version``: the newest metadata action
        at or before it, else the constructor schema. Checkpoints fold
        the accumulated schema in (Delta checkpoints carry metaData
        for the same reason), so the newest-first walk reads at most
        CHECKPOINT_EVERY entries, not the whole history; checkpoints
        written before this field existed just don't stop the walk."""
        import pyspark.sql.types as T

        pending = getattr(self, "_pending_schema", None)
        if version is None and pending is not None:
            return pending
        if version is None:
            version = self.current_version()
        if version is None:
            return self._base_schema
        cache = getattr(self, "_schema_cache", None)
        if cache is not None and version in cache:
            return cache[version]
        out = None
        for v in range(version, -1, -1):
            ck = self._ckpt_payload(v)
            if ck is not None and "schema" in ck:
                # the checkpoint at v is written AFTER commit v and
                # already reflects any metadata action in entry v
                out = T.StructType.fromJson(ck["schema"])
                break
            if not os.path.exists(self._log_path(v)):
                continue
            with open(self._log_path(v), encoding="utf-8") as f:
                entry = json.load(f)
            for a in entry["actions"]:
                if "metadata" in a:
                    out = T.StructType.fromJson(a["metadata"]["schema"])
                    break
            if out is not None:
                break
        if out is None:
            out = self._base_schema
        # version-keyed: the schema AT a committed version is immutable
        if cache is not None:
            cache[version] = out
            if len(cache) > 8:
                cache.pop(min(cache))
        return out

    # -- column mapping + protocol (Delta columnMapping 'name' mode) --------
    #
    # A column's PHYSICAL (on-disk parquet) name is fixed at first
    # write and never changes; renames and drops are metadata-only
    # commits that re-point the LOGICAL schema. Data files written
    # before and after a rename therefore stay byte-identical and
    # mutually readable — the property that makes ALTER TABLE RENAME/
    # DROP COLUMN a KB-of-JSON operation on a 100 TB table instead of
    # a full rewrite. Keys, partition columns, and columns referenced
    # by active CHECK constraints are never mappable (they name the
    # stats/layout/validation namespaces); stats and bloom metadata
    # live permanently in the PHYSICAL namespace, so pruning metadata
    # written under any era keeps pruning under every later one.

    def _cmap_at(self, version: int | None) -> dict:
        """Column-mapping state at ``version``: the newest checkpoint
        at or before it (checkpoints fold the state like they fold
        schema), else the newest metadata action CARRYING the state
        (actions without the field — pre-feature writers, plain
        add_columns — are transparent to the walk), else the default.
        Pre-feature checkpoints stop the walk with the default: no
        rename can predate the feature that records it."""
        pending = getattr(self, "_pending_cmap", None)
        if version is None and pending is not None:
            return pending
        if version is None:
            version = self.current_version()
        if version is None:
            return _default_cmap()
        cached = self._cmap_cache.get(version)
        if cached is not None:
            return cached
        out = None
        for v in range(version, -1, -1):
            ck = self._ckpt_payload(v)
            if ck is not None:
                out = ck.get("cmap", _default_cmap())
                break
            if not os.path.exists(self._log_path(v)):
                continue
            with open(self._log_path(v), encoding="utf-8") as f:
                entry = json.load(f)
            for a in entry["actions"]:
                if "metadata" in a and "cmap" in a["metadata"]:
                    out = a["metadata"]["cmap"]
                    break
            if out is not None:
                break
        if out is None:
            out = _default_cmap()
        self._cmap_cache[version] = out
        if len(self._cmap_cache) > 8:
            self._cmap_cache.pop(min(self._cmap_cache))
        return out

    def _mapping_at(self, version: int | None) -> dict[str, str]:
        """logical -> physical for the columns whose names differ."""
        return self._cmap_at(version).get("map", {})

    def _check_protocol(self, version: int | None, write: bool = False):
        prot = self._cmap_at(version).get("protocol") or {}
        need_r = prot.get("min_reader", 1)
        if need_r > PROTOCOL_READER:
            raise ProtocolUnsupported(
                f"table at {self.path!r} requires reader protocol "
                f"{need_r}; this implementation supports "
                f"{PROTOCOL_READER}"
            )
        if write:
            need_w = prot.get("min_writer", 1)
            if need_w > PROTOCOL_WRITER:
                raise ProtocolUnsupported(
                    f"table at {self.path!r} requires writer protocol "
                    f"{need_w}; this implementation supports "
                    f"{PROTOCOL_WRITER}"
                )

    def _physical_schema(self, version: int | None):
        """The LOGICAL schema at ``version`` with field names replaced
        by their physical (on-disk) names."""
        import pyspark.sql.types as T

        schema = self._schema_at(version)
        m = self._mapping_at(version)
        if not m:
            return schema
        return T.StructType(
            [
                T.StructField(m.get(f.name, f.name), f.dataType, f.nullable)
                for f in schema.fields
            ]
        )

    def _to_physical(self, df: DataFrame) -> DataFrame:
        """Rename a conformed (logical-named) frame to physical names
        for writing. Identity when the table never renamed a column."""
        m = self._mapping_at(None)
        if not m:
            return df
        return df.select(
            *[
                F.col(f.name).alias(m.get(f.name, f.name))
                for f in self.schema.fields
            ]
        )

    def _scan_files(
        self,
        relpaths: list[str],
        version: int | None = None,
        schema=None,
    ) -> DataFrame:
        """Read data files (physical column names on disk) back as the
        LOGICAL schema at ``version`` — the single read path every
        batch consumer goes through, so column mapping is applied (or
        skipped) in exactly one place."""
        if schema is None:
            schema = self._schema_at(version)
        m = self._mapping_at(version)
        if not relpaths:
            return self.spark.createDataFrame([], schema)
        import pyspark.sql.types as T

        phys = (
            T.StructType(
                [
                    T.StructField(
                        m.get(f.name, f.name), f.dataType, f.nullable
                    )
                    for f in schema.fields
                ]
            )
            if m
            else schema
        )
        df = self.spark.read.schema(phys).parquet(
            *[os.path.join(self.path, p) for p in relpaths]
        )
        if m:
            df = df.select(
                *[
                    F.col(m.get(f.name, f.name)).alias(f.name)
                    for f in schema.fields
                ]
            )
        return df

    def _gencols_at(self, version: int | None) -> dict[str, str]:
        """GENERATED-column expressions ({name: SQL expr}) at
        ``version`` — folded through the same extended-metadata state
        as column mapping (checkpoints, restore, clone all carry it).
        Before the first commit the constructor declaration applies
        (init's own writes must already generate)."""
        state = self._cmap_at(version)
        if "gen" in state:
            return state["gen"]
        return self._generated

    def _conform(self, df: DataFrame) -> DataFrame:
        # GENERATED ALWAYS AS: a generated column absent from the
        # incoming frame is computed here, so every write path
        # (append / upsert / merge / insert_ignore / streaming
        # foreachBatch) generates identically; a frame that DOES carry
        # the column is validated row-by-row in _write_files' stats
        # aggregate (explicit wrong values never land)
        for name, expr in self._gencols_at(None).items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
        return super()._conform(df)

    def add_generated_column(
        self, name: str, dtype: str, expr: str
    ) -> int:
        """Declare a GENERATED column (Delta's GENERATED ALWAYS AS) —
        on an EMPTY table only (existing files would read the column
        as NULL, violating the generation invariant; Delta likewise
        restricts generated columns to table creation). Writers
        compute it when absent and validate it when present, so the
        column is ALWAYS consistent with its expression — which is
        what makes a generated date partition column (`partition_by` a
        ``CAST(ts AS DATE)`` column) prunable with zero writer
        discipline. Bumps min_writer to 2 (a pre-feature writer would
        append NULLs unvalidated); readers are unaffected (the data is
        materialized)."""
        base = self.current_version()
        self._check_protocol(base, write=True)
        if self._split_live(base)[0]:
            raise ValueError(
                "add_generated_column requires an empty table "
                "(existing files cannot satisfy the generation "
                "invariant); declare at creation via generated={...}"
            )
        import pyspark.sql.types as T

        cur = self._schema_at(base)
        if name in cur.fieldNames():
            fields = list(cur.fields)
        else:
            fields = list(cur.fields) + [
                T.StructField(name, T._parse_datatype_string(dtype))
            ]
        if name in self.keys:
            raise ValueError(f"key column cannot be generated: {name}")
        new_schema = T.StructType(fields)
        state = json.loads(json.dumps(self._cmap_at(base)))
        gen = dict(state.get("gen", self._generated))
        gen[name] = expr
        state["gen"] = gen
        prot = state.setdefault("protocol", {})
        prot["min_writer"] = max(prot.get("min_writer", 1), 2)
        prot.setdefault("min_reader", 1)
        v = self._commit(
            "add_generated_column",
            [
                {
                    "metadata": {
                        "schema": new_schema.jsonValue(),
                        "cmap": state,
                    }
                }
            ],
            base,
        )
        self._generated = gen
        return v

    def _assert_mappable(self, name: str, base: int | None) -> None:
        if name in self.keys:
            raise ValueError(f"cannot map key column: {name}")
        if name in self.partition_by:
            raise ValueError(f"cannot map partition column: {name}")
        import re

        pat = re.compile(
            rf"(?<![A-Za-z0-9_]){re.escape(name)}(?![A-Za-z0-9_])"
        )
        for cn, ce in self.constraints(base).items():
            if pat.search(ce):
                raise ValueError(
                    f"column {name!r} is referenced by CHECK {cn!r} "
                    f"({ce}); drop the constraint first"
                )
        gen = self._gencols_at(base)
        if name in gen:
            raise ValueError(f"cannot map generated column: {name}")
        for gname, gexpr in gen.items():
            if pat.search(gexpr):
                raise ValueError(
                    f"column {name!r} is referenced by generated "
                    f"column {gname!r} ({gexpr})"
                )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit: zero
        data files touched (Delta columnMapping 'name' mode). The
        column keeps its immutable PHYSICAL name; only the logical
        schema re-points. Bumps the table protocol to 2/2 so a
        pre-mapping reader fails loudly instead of resurrecting the
        old name. Keys, partition columns, and constraint-referenced
        columns are not renameable. Returns the committed version."""
        import pyspark.sql.types as T

        base = self.current_version()
        self._check_protocol(base, write=True)
        cur = self._schema_at(base)
        if old not in cur.fieldNames():
            raise ValueError(f"no such column: {old}")
        if new in cur.fieldNames():
            raise ValueError(f"column exists: {new}")
        if not new.isidentifier():
            raise ValueError(f"invalid column name: {new!r}")
        self._assert_mappable(old, base)
        state = json.loads(json.dumps(self._cmap_at(base)))
        m = state.setdefault("map", {})
        # the new LOGICAL name must not collide with any physical name
        # in use: physical names are the on-disk truth, and a logical
        # alias shadowing a different column's physical name would make
        # the write-time constraint view ambiguous
        used_physical = {m.get(f.name, f.name) for f in cur.fields} | set(
            state.get("retired", [])
        )
        phys = m.pop(old, old)
        if new in used_physical - {phys}:
            raise ValueError(
                f"{new!r} is the physical name of another column"
            )
        if phys != new:
            m[new] = phys
        prot = state.setdefault("protocol", {})
        prot["min_reader"] = max(prot.get("min_reader", 1), 2)
        prot["min_writer"] = max(prot.get("min_writer", 1), 2)
        new_schema = T.StructType(
            [
                T.StructField(
                    new if f.name == old else f.name, f.dataType, f.nullable
                )
                for f in cur.fields
            ]
        )
        return self._commit(
            "rename_column",
            [{"metadata": {"schema": new_schema.jsonValue(), "cmap": state}}],
            base,
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN as a METADATA-ONLY commit: the
        physical column stays in the (immutable) data files but leaves
        the logical schema, and its physical name is RETIRED — a later
        ``add_columns`` of the same logical name gets a fresh physical
        name, so the old era's values can never resurrect under the
        new column (the reason Delta requires column mapping for DROP
        COLUMN). Returns the committed version."""
        import pyspark.sql.types as T

        base = self.current_version()
        self._check_protocol(base, write=True)
        cur = self._schema_at(base)
        if name not in cur.fieldNames():
            raise ValueError(f"no such column: {name}")
        self._assert_mappable(name, base)
        state = json.loads(json.dumps(self._cmap_at(base)))
        m = state.setdefault("map", {})
        phys = m.pop(name, name)
        retired = set(state.get("retired", []))
        retired.add(phys)
        state["retired"] = sorted(retired)
        prot = state.setdefault("protocol", {})
        prot["min_reader"] = max(prot.get("min_reader", 1), 2)
        prot["min_writer"] = max(prot.get("min_writer", 1), 2)
        new_schema = T.StructType(
            [f for f in cur.fields if f.name != name]
        )
        return self._commit(
            "drop_column",
            [{"metadata": {"schema": new_schema.jsonValue(), "cmap": state}}],
            base,
        )

    @property
    def schema(self):
        return self._schema_at(None)

    @schema.setter
    def schema(self, value) -> None:
        # ParquetTable.__init__ assigns self.schema; the pre-evolution
        # baseline lands here
        self._base_schema = value

    def add_columns(self, fields: dict[str, str]) -> int:
        """Widen the table schema — a METADATA-ONLY commit, zero data
        rewritten (the Delta ALTER TABLE ADD COLUMNS shape). Existing
        files simply read the new columns as NULL (parquet scan with
        an explicit superset schema); subsequent writes carry them.
        Returns the committed version."""
        import pyspark.sql.types as T

        base = self.current_version()
        self._check_protocol(base, write=True)
        cur = self._schema_at(base)
        for name in fields:
            if name in cur.fieldNames():
                raise ValueError(f"column exists: {name}")
        new = T.StructType(
            list(cur.fields)
            + [
                T.StructField(n, T._parse_datatype_string(dt))
                for n, dt in fields.items()
            ]
        )
        # a re-added logical name whose physical name was RETIRED by a
        # drop_column gets a FRESH physical name: existing files keep
        # the retired column's bytes, and reading them under the same
        # name would resurrect dropped-era values into the new column
        state = json.loads(json.dumps(self._cmap_at(base)))
        m = state.setdefault("map", {})
        used_physical = {m.get(f.name, f.name) for f in cur.fields} | set(
            state.get("retired", [])
        )
        changed = False
        for n in fields:
            if n in used_physical:
                m[n] = f"{n}__p{0 if base is None else base + 1}"
                changed = True
        meta: dict = {"schema": new.jsonValue()}
        if changed or state != _default_cmap():
            meta["cmap"] = state
        return self._commit(
            "add_columns", [{"metadata": meta}], base
        )

    # -- CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT shape) ----------

    def constraints(self, version: int | None = None) -> dict[str, str]:
        """Active CHECK constraints at ``version``: the accumulated
        constraint set from the newest checkpoint at or before it,
        plus the adds/drops of the entries after — at most
        CHECKPOINT_EVERY entry reads per call. This matters because
        ``_write_files`` consults the active set on EVERY write: an
        un-checkpointed full-history walk would cost O(versions) file
        reads per write, O(V^2) over a table's lifetime, against the
        design goal that checkpoints bound replay. Checkpoints written
        before the field existed fall back to the full oldest-first
        walk (log entries are never deleted, so it is always
        complete)."""
        if version is None:
            version = self.current_version()
        out: dict[str, str] = {}
        if version is None:
            return out
        start = 0
        for v in range(version, -1, -1):
            ck = self._ckpt_payload(v)
            if ck is not None and "constraints" in ck:
                out = dict(ck["constraints"])
                start = v + 1
                break
        for v in range(start, version + 1):
            if not os.path.exists(self._log_path(v)):
                continue
            with open(self._log_path(v), encoding="utf-8") as f:
                entry = json.load(f)
            for a in entry["actions"]:
                c = a.get("constraint")
                if not c:
                    continue
                if c.get("drop"):
                    out.pop(c["name"], None)
                else:
                    out[c["name"]] = c["expr"]
        return out

    def add_constraint(self, name: str, expr: str) -> int:
        """``ALTER TABLE ADD CONSTRAINT name CHECK (expr)``: existing
        rows are validated FIRST (Delta's same full-scan gate — a
        constraint the data already violates never lands), then a
        metadata-only commit records it and every subsequent write is
        validated inside its write-time stats pass. NULL evaluations
        pass, per the SQL standard for CHECK."""
        base = self.current_version()
        if name in self.constraints(base):
            raise ValueError(f"constraint exists: {name}")
        bad = (
            self.read(base)
            .filter(F.expr(f"coalesce(not ({expr}), false)"))
            .count()
        )
        if bad:
            raise ConstraintViolation(
                f"cannot add {name!r}: {bad} existing rows violate ({expr})"
            )
        return self._commit(
            "add_constraint",
            [{"constraint": {"name": name, "expr": expr}}],
            base,
        )

    def drop_constraint(self, name: str) -> int:
        base = self.current_version()
        if name not in self.constraints(base):
            raise ValueError(f"no such constraint: {name}")
        return self._commit(
            "drop_constraint",
            [{"constraint": {"name": name, "drop": True}}],
            base,
        )

    def history(self) -> list[dict]:
        """One {version, op, ts, n_add, n_remove} row per commit."""
        out = []
        for v in self.versions():
            with open(self._log_path(v), encoding="utf-8") as f:
                e = json.load(f)
            acts = e["actions"]
            out.append(
                {
                    "version": v,
                    "op": e.get("op", "?"),
                    "ts": e.get("ts"),
                    "n_add": sum(1 for a in acts if "add" in a),
                    "n_remove": sum(1 for a in acts if "remove" in a),
                }
            )
        return out

    def _effective_ts(self) -> dict[int, float]:
        """Per-version commit timestamps with Delta-style MONOTONIC
        adjustment: commit ``ts`` is the writer's raw wall clock, so
        with multiple writers and clock skew the sequence can be
        non-monotone in version order even though the CAS serializes
        the commits themselves. Delta resolves this during replay by
        clamping each commit's effective timestamp to
        max(raw, prev + 1ms); we do the same here so TIMESTAMP AS OF
        and vacuum retention resolve against a sequence that respects
        the commit order (a version can never look OLDER than an
        earlier-numbered commit). Entries from builds before the
        ``ts`` field count as time zero before adjustment."""
        out: dict[int, float] = {}
        prev: float | None = None
        for v in self.versions():
            with open(self._log_path(v), encoding="utf-8") as f:
                ts = float(json.load(f).get("ts") or 0.0)
            if prev is not None and ts <= prev:
                ts = prev + 0.001
            out[v] = ts
            prev = ts
        return out

    def version_at(self, timestamp: float) -> int:
        """Newest version whose effective commit time is <=
        ``timestamp`` — Delta's TIMESTAMP AS OF resolution, over the
        monotonically adjusted sequence (``_effective_ts``), so a
        skewed writer clock can never resolve a timestamp to a version
        older than an earlier-numbered commit. Raises when the
        timestamp predates the table."""
        best = None
        for v, ts in self._effective_ts().items():
            if ts <= timestamp:
                best = v
        if best is None:
            raise ValueError(
                f"timestamp {timestamp} predates the table's first commit"
            )
        return best

    def read_asof(self, timestamp) -> DataFrame:
        """``SELECT ... TIMESTAMP AS OF`` — time travel by wall clock.
        Accepts a unix float or a datetime (naive = UTC, matching the
        session timezone)."""
        if isinstance(timestamp, datetime.datetime):
            if timestamp.tzinfo is None:
                timestamp = timestamp.replace(
                    tzinfo=datetime.timezone.utc
                )
            timestamp = timestamp.timestamp()
        return self.read(self.version_at(timestamp))

    # -- read ---------------------------------------------------------------

    def _dv_schema(self):
        import pyspark.sql.types as T

        base = self.schema
        return T.StructType([base[k] for k in self.keys])

    def _split_live(self, version: int | None = None):
        """(data_files, dv_files) live at ``version``. Every data
        consumer resolves its file set here, so this is where the
        READER protocol gate lives: a table using features this code
        doesn't know fails loudly before any file is read."""
        self._check_protocol(version)
        live = self._live(version)
        data = {p: m for p, m in live.items() if not m.get("dv")}
        dvs = {p: m for p, m in live.items() if m.get("dv")}
        return data, dvs

    def _typed_part(self, col: str, s: str | None):
        """Parse a partition value back from its hive-path string form
        to the column's type for range/equality pruning; None when the
        value is the null sentinel or the type's string form is not
        round-trippable (the file then just never partition-prunes)."""
        if s is None:
            return None
        try:
            base = self.schema[col].dataType.simpleString().split("(")[0]
            if base in ("tinyint", "smallint", "int", "bigint"):
                return int(s)
            if base == "string":
                return s
            if base == "date":
                return datetime.date.fromisoformat(s)
        except (KeyError, ValueError):
            return None
        return None

    def _file_stats(self, meta: dict) -> dict:
        """The combined skip-metadata view of one file: per-column
        min/max stats PLUS the partition values as degenerate [v, v]
        ranges — so every pruning path (keyed writes, predicate scans,
        point lookups) applies partition pruning and stats skipping
        through one mechanism, partition columns pruning EXACTLY."""
        stats = dict(_norm_stats(meta.get("stats"), self.keys))
        for col, s in (meta.get("part") or {}).items():
            v = self._typed_part(col, s)
            if v is not None:
                stats[col] = [_js(v), _js(v)]
        return stats

    def read(self, version: int | None = None) -> DataFrame:
        # schema resolves AT the requested version, so time travel to a
        # pre-evolution snapshot shows the schema (and column names —
        # the mapping also resolves per version) of that era
        data, dvs = self._split_live(version)
        base = self._scan_files(list(data), version)
        if data and dvs:
            # merge-on-read: tombstoned keys are subtracted at scan
            # time by ONE anti-join against the (tiny) union of live
            # deletion-vector files — a Delta/Iceberg v2 DV read
            tomb = self.spark.read.schema(self._dv_schema()).parquet(
                *[os.path.join(self.path, p) for p in dvs]
            )
            base = base.join(F.broadcast(tomb), self.keys, "left_anti")
        return base

    def _resolve_bloom(self, path: str, bloom: dict | None) -> dict | None:
        """Hex-bearing bloom dict for file ``path``: legacy inline
        ``{"hex": ...}`` passes through; a sidecar reference loads its
        (immutable, cached) mask file lazily — only files that survive
        range pruning ever pay the read. A missing/unreadable sidecar
        or absent key degrades to no-prune (always correct)."""
        if not bloom:
            return None
        if "hex" in bloom:
            return bloom
        sc = bloom.get("sidecar")
        if not sc:
            return None
        masks = self._bloom_sidecars.get(sc)
        if masks is None:
            try:
                with open(
                    os.path.join(self.path, sc), encoding="utf-8"
                ) as f:
                    masks = json.load(f)
            except (OSError, json.JSONDecodeError):
                masks = {}
            self._bloom_sidecars[sc] = masks
        hexv = masks.get(path)
        if hexv is None:
            return None
        return {**bloom, "hex": hexv}

    def lookup_candidates(
        self, values, version: int | None = None
    ) -> list[str]:
        """Relpaths of live data files that MIGHT contain any of the
        point-lookup ``values`` on the first key column: a file
        survives only if its min/max range admits some value AND its
        bloom mask probes positive for it. Pure driver-side metadata —
        no data is touched. Bloom false negatives are impossible, so
        the candidate set always covers the true owner files."""
        k0 = self.keys[0]
        vals = list(values)
        data, _ = self._split_live(version)
        cands = []
        for p, meta in data.items():
            rng = self._file_stats(meta).get(k0)
            bloom = None
            bloom_resolved = False
            for v in vals:
                if rng is not None and not _col_overlaps(rng, v, v):
                    continue
                if not bloom_resolved:
                    # lazy: only range-surviving files load their mask
                    bloom = self._resolve_bloom(p, meta.get("bloom"))
                    bloom_resolved = True
                if bloom and not _bloom_contains(bloom, v):
                    continue
                cands.append(p)
                break
        return cands

    def lookup(self, values, version: int | None = None) -> DataFrame:
        """Point lookup ``WHERE key0 IN (values)`` that scans only the
        bloom+range candidate files — the file-level secondary-index
        read Delta gets from its bloom indexes. Merge-on-read deletion
        vectors are honored exactly as in :meth:`read`."""
        k0 = self.keys[0]
        vals = list(values)
        cands = self.lookup_candidates(vals, version)
        base = self._scan_files(cands, version)
        _, dvs = self._split_live(version)
        if dvs:
            tomb = self.spark.read.schema(self._dv_schema()).parquet(
                *[os.path.join(self.path, p) for p in dvs]
            )
            base = base.join(F.broadcast(tomb), self.keys, "left_anti")
        return base.filter(F.col(k0).isin(vals))

    def scan_candidates(
        self, col: str, lo, hi, version: int | None = None
    ) -> list[str]:
        """Live data files whose ``col`` min/max range can intersect
        [lo, hi] — file-level data skipping on ANY stats-covered
        column (keys AND the indexed non-key columns), not just the
        mutation path's key bounds. Values normalize through the same
        ``_js`` tagging the stats were written with, so dates and
        Decimals compare typed, never stringly."""
        data, _ = self._split_live(version)
        jlo, jhi = _js(lo), _js(hi)
        # stats live permanently in the PHYSICAL namespace (immutable
        # per column), so a probe on a renamed logical column resolves
        # its physical name once and then prunes files of EVERY era
        pcol = self._mapping_at(version).get(col, col)
        return [
            p
            for p, meta in data.items()
            if _col_overlaps(self._file_stats(meta).get(pcol), jlo, jhi)
        ]

    def read_where(
        self, col: str, lo, hi, version: int | None = None
    ) -> DataFrame:
        """``SELECT * WHERE col BETWEEN lo AND hi`` scanning only the
        stats-surviving files — the lakehouse data-skipping read. On a
        layout clustered by ``col`` (range-partitioned writes, or
        compact(cluster_by)/Z-order), the scan touches O(selectivity)
        files instead of all of them. Merge-on-read deletion vectors
        are honored exactly as in :meth:`read`."""
        cands = self.scan_candidates(col, lo, hi, version)
        base = self._scan_files(cands, version)
        _, dvs = self._split_live(version)
        if dvs:
            tomb = self.spark.read.schema(self._dv_schema()).parquet(
                *[os.path.join(self.path, p) for p in dvs]
            )
            base = base.join(F.broadcast(tomb), self.keys, "left_anti")
        return base.filter(
            (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        )

    def _changes_inputs(self, v_from: int, v_to: int):
        """(old_side, new_side, scanned_relpaths) for the snapshot
        diff ``v_from → v_to``. Data files are immutable, so a file
        live in BOTH snapshots cannot contribute changes and is
        normally never scanned — only the files removed since
        ``v_from``, the files added since, and (when merge-on-read
        deletion vectors changed) the common files' rows for the tiny
        DV-delta key set. Returns the scan list so tests can pin the
        only-churn-is-read property."""
        schema = self._schema_at(v_to)
        data_from, dv_from = self._split_live(v_from)
        data_to, dv_to = self._split_live(v_to)

        def _read(paths, sch):
            # deletion-vector reads: keys are never column-mapped
            if not paths:
                return self.spark.createDataFrame([], sch)
            return self.spark.read.schema(sch).parquet(
                *[os.path.join(self.path, p) for p in paths]
            )

        churn_old = [p for p in data_from if p not in data_to]
        churn_new = [p for p in data_to if p not in data_from]
        scanned = churn_old + churn_new
        old_side = self._scan_files(churn_old, v_to, schema)
        if dv_from:
            old_side = old_side.join(
                F.broadcast(_read(list(dv_from), self._dv_schema())),
                self.keys,
                "left_anti",
            )
        new_side = self._scan_files(churn_new, v_to, schema)
        if dv_to:
            new_side = new_side.join(
                F.broadcast(_read(list(dv_to), self._dv_schema())),
                self.keys,
                "left_anti",
            )
        common = [p for p in data_from if p in data_to]
        if common and set(dv_from) != set(dv_to):
            # identical bytes, different visibility: rows of common
            # files whose key entered (newly dead) or left (revived)
            # the DV set between the snapshots
            t_from = _read(list(dv_from), self._dv_schema())
            t_to = _read(list(dv_to), self._dv_schema())
            newly_dead = t_to.join(t_from, self.keys, "left_anti")
            revived = t_from.join(t_to, self.keys, "left_anti")
            base = self._scan_files(common, v_to, schema)
            old_side = old_side.unionByName(
                base.join(F.broadcast(newly_dead), self.keys, "left_semi")
            )
            new_side = new_side.unionByName(
                base.join(F.broadcast(revived), self.keys, "left_semi")
            )
            scanned = scanned + common
        return old_side, new_side, scanned

    def table_changes(
        self, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Row-level change-data feed between two snapshots — the
        Delta ``table_changes`` / CDF surface, computed by LOG REPLAY
        rather than a full snapshot diff: the scan cost tracks the
        files a commit actually churned, not the table size (see
        ``_changes_inputs``). On a 100 TB table a typical commit
        touches a handful of files, so CDC stays a handful-of-files
        job.

        Output: the ``v_to`` schema plus ``_change_type`` in
        {'insert', 'delete', 'update_preimage', 'update_postimage'}.
        Copy-along rows (rewritten byte-identical by file-level
        copy-on-write) compare equal and are correctly absent. Change
        rows are not attributed to individual commits in the range —
        a row updated twice between the snapshots shows one net
        pre/post pair (net-change semantics)."""
        from functools import reduce

        if v_to is None:
            v_to = self.current_version()
        if v_to < v_from:
            raise ValueError(f"v_to {v_to} < v_from {v_from}")
        schema = self._schema_at(v_to)
        payload = [
            f.name for f in schema.fields if f.name not in self.keys
        ]
        old_side, new_side, _ = self._changes_inputs(v_from, v_to)
        o = old_side.withColumn("_in_old", F.lit(True))
        for c in payload:
            o = o.withColumnRenamed(c, f"_old_{c}")
        n = new_side.withColumn("_in_new", F.lit(True))
        same = (
            reduce(
                Column.__and__,
                [
                    F.col(f"_old_{c}").eqNullSafe(F.col(c))
                    for c in payload
                ],
            )
            if payload
            else F.lit(True)
        )
        j = (
            o.join(n, self.keys, "full_outer")
            .withColumn(
                "_ct",
                F.when(F.col("_in_new").isNull(), "delete")
                .when(F.col("_in_old").isNull(), "insert")
                .when(same, None)  # copy-along row: no change
                .otherwise("update"),
            )
            .filter(F.col("_ct").isNotNull())
            .localCheckpoint(eager=True)  # projected four times below
        )

        def proj(side: str, ct: str, label: str) -> DataFrame:
            cols = [
                (
                    F.col(f.name)
                    if f.name in self.keys or side == "new"
                    else F.col(f"_old_{f.name}").alias(f.name)
                )
                for f in schema.fields
            ]
            return j.filter(F.col("_ct") == ct).select(
                *cols, F.lit(label).alias("_change_type")
            )

        return (
            proj("old", "delete", "delete")
            .unionByName(proj("new", "insert", "insert"))
            .unionByName(proj("old", "update", "update_preimage"))
            .unionByName(proj("new", "update", "update_postimage"))
        )

    def file_count(self) -> int:
        return len(self._live())

    # -- write mechanics ----------------------------------------------------

    def _driver_stat_rows(
        self,
        leaves: list[str],
        schema,
        stat_cols: list[str],
        want_bloom: bool,
    ) -> list[dict] | None:
        """Per-file stats rows computed driver-side via pyarrow — the
        small-commit fast path of :meth:`_write_files`. Returns rows
        shaped exactly like the Spark aggregate's output ("_f" file
        URI, "_rows", "_mn{i}"/"_mx{i}" per stat column, "_bp{j}" raw
        16-bit bloom probe slices), or None when ineligible (files
        above the size gate, a stat column type whose collected value
        the pyarrow path can't reproduce bit-for-bit, or pyarrow
        unavailable) — the caller then runs the distributed pass.

        Value parity with the Spark aggregate, column type by type:
        ints/strings/floats/dates/Decimals collect to the same Python
        objects pyarrow's ``as_py`` yields; timestamps are normalized
        to naive-UTC (the session timezone is pinned UTC, so Spark
        collects naive-UTC datetimes); float NaN follows Spark's
        ordering (NaN greatest: max is NaN when any value is NaN, min
        ignores NaN unless all are); string comparison is code-point
        order on both sides (UTF-8 byte order == code-point order).
        Bloom slices reuse the md5(str(key)) form that
        ``_bloom_positions_py`` already pins as hash-identical to the
        executor-side ``md5(cast(key as string))`` for the
        ``_BLOOM_KEY_TYPES`` gate that ``want_bloom`` implies."""
        if not leaves:
            return []
        limit = int(
            os.environ.get(
                "SPARK_GRAFT_TXNLOG_DRIVER_STATS_MAX_BYTES",
                str(32 * 1024 * 1024),
            )
        )
        try:
            if sum(os.path.getsize(f) for f in leaves) > limit:
                return None
        except OSError:
            return None
        base = {
            f.name: f.dataType.simpleString().split("(")[0]
            for f in schema.fields
        }
        if any(base.get(c) not in _STATS_COL_TYPES for c in stat_cols):
            return None
        try:
            import pyarrow.parquet as pq
        except ImportError:
            return None
        # ROW gate on top of the byte gate: the bloom slices cost one
        # Python md5 per distinct key (~3 us measured at 2 probes) and
        # min/max collection ~0.5 s per 1M values per column, so past
        # ~100-400k rows the driver loop exceeds the ~0.5 s Spark job
        # it replaces — and 32 MB of parquet can hold millions of int
        # keys. Footer-only read (no data pages), so the gate is ~free.
        try:
            total_rows = sum(
                pq.ParquetFile(f).metadata.num_rows for f in leaves
            )
        except Exception:
            return None
        row_limit = int(
            os.environ.get(
                "SPARK_GRAFT_TXNLOG_DRIVER_STATS_MAX_ROWS",
                str(100_000 if want_bloom else 400_000),
            )
        )
        if total_rows > row_limit:
            return None
        import hashlib
        from urllib.parse import quote

        k0 = self.keys[0]
        cols = list(dict.fromkeys(stat_cols + ([k0] if want_bloom else [])))

        def _norm(v):
            # tz-aware (parquet TIMESTAMP adjusted-to-UTC) -> the
            # naive-UTC datetime Spark collects under the UTC session
            if isinstance(v, datetime.datetime) and v.tzinfo is not None:
                return v.astimezone(datetime.timezone.utc).replace(
                    tzinfo=None
                )
            return v

        rows: list[dict] = []
        for path in leaves:
            try:
                tbl = pq.read_table(path, columns=cols)
            except Exception:
                return None  # unreadable/odd file: let Spark decide
            if tbl.num_rows == 0:
                continue  # the Spark aggregate emits no group either
            row: dict = {
                "_f": "file:" + quote(path),
                "_rows": tbl.num_rows,
            }
            for i, c in enumerate(stat_cols):
                vals = [
                    _norm(v) for v in tbl.column(c).to_pylist()
                    if v is not None
                ]
                if not vals:
                    row[f"_mn{i}"] = None
                    row[f"_mx{i}"] = None
                elif base[c] in ("float", "double"):
                    nn = [v for v in vals if not math.isnan(v)]
                    # Spark orders NaN greatest: max is NaN when any
                    # NaN exists; min ignores NaN unless all are NaN
                    row[f"_mn{i}"] = min(nn) if nn else float("nan")
                    row[f"_mx{i}"] = (
                        float("nan") if len(nn) < len(vals) else max(nn)
                    )
                else:
                    row[f"_mn{i}"] = min(vals)
                    row[f"_mx{i}"] = max(vals)
            if want_bloom:
                slices: list[set] = [set() for _ in range(BLOOM_PROBES)]
                for v in set(tbl.column(k0).to_pylist()):
                    if v is None:
                        continue
                    h = hashlib.md5(str(_norm(v)).encode()).hexdigest()
                    for j in range(BLOOM_PROBES):
                        slices[j].add(int(h[4 * j : 4 * j + 4], 16))
                for j in range(BLOOM_PROBES):
                    row[f"_bp{j}"] = sorted(slices[j])
            rows.append(row)
        return rows

    def _write_files(
        self, df: DataFrame, dv: bool = False
    ) -> list[dict]:
        """Write ``df`` as immutable parquet files under data/ and
        return their add-actions with per-file rowcount + min/max
        stats for EVERY key column and the first prunable non-key
        columns up to STATS_MAX_COLS (one aggregate over just the new
        files — the same write-time stats pass Delta does), so
        composite-key tables prune on all key columns and predicate
        scans (:meth:`read_where`) skip files too. Data files also get
        a first-key Bloom mask in the same pass. ``dv=True`` writes a
        DELETION-VECTOR file (key columns only) and tags the action so
        replay can tell data from tombstones."""
        # early writer gate: fail before staging any parquet (the
        # _commit gate would catch it anyway, after the write)
        self._check_protocol(None, write=True)
        rel_dir = f"data/{uuid.uuid4().hex[:12]}"
        out_dir = os.path.join(self.path, rel_dir)
        parted = bool(self.partition_by) and not dv
        # files are written — and their stats recorded — under
        # PHYSICAL column names (identity until a rename_column);
        # keys/partition columns are never mapped, so every key-named
        # expression below reads the same either way
        cmap = {} if dv else self._mapping_at(None)
        # Row tracking: a preserving rewrite hands this method a frame
        # that already carries each row's stable id; the column rides
        # through conform/physical-rename and lands IN the data files,
        # and the add-actions are flagged so lazy base-id assignment
        # (_row_id_bases) knows these files' ids are self-contained.
        # ... but only when _row_id is NOT a declared table column: on
        # a never-tracked table the name is unreserved, so a user
        # column called _row_id must conform like any other column
        # instead of being mistaken for a preserving rewrite
        carry_rowid = (
            (not dv)
            and (ROWID_COL in df.columns)
            and (ROWID_COL not in self.schema.fieldNames())
        )

        def _prep(frame: DataFrame) -> DataFrame:
            if not carry_rowid:
                return self._to_physical(self._conform(frame))
            for gname, gexpr in self._gencols_at(None).items():
                if gname not in frame.columns:
                    frame = frame.withColumn(gname, F.expr(gexpr))
            m_ = self._mapping_at(None)
            return frame.select(
                *[
                    F.col(f.name)
                    .cast(f.dataType)
                    .alias(m_.get(f.name, f.name))
                    for f in self.schema.fields
                ],
                F.col(ROWID_COL).cast("long").alias(ROWID_COL),
            )

        if dv:
            schema = self._dv_schema()
            df.select(
                *[F.col(f.name).cast(f.dataType) for f in schema.fields]
            ).write.mode("error").parquet(out_dir)
        elif parted:
            # hive-style p_<col>=<value> directories via DUPLICATED
            # partition columns: partitionBy drops its columns from
            # file contents, so writing copies keeps the data files
            # self-contained (read() stays one flat multi-file scan,
            # no partition-inference coupling) while every file still
            # holds exactly one partition value — which is what makes
            # the recorded partitionValues an EXACT prune
            schema = self._physical_schema(None)
            out = _prep(df)
            for c in self.partition_by:
                out = out.withColumn(f"p_{c}", F.col(c).cast("string"))
            out.write.mode("error").partitionBy(
                *[f"p_{c}" for c in self.partition_by]
            ).parquet(out_dir)
        else:
            schema = self._physical_schema(None)
            _prep(df).write.mode("error").parquet(out_dir)
        if carry_rowid:
            # the files physically contain the id column: include it
            # in the stats-pass read schema (its per-file min/max then
            # lands in the logged stats for free — a row-id range scan
            # can prune files like any other column)
            import pyspark.sql.types as T

            schema = T.StructType(
                list(schema.fields)
                + [T.StructField(ROWID_COL, T.LongType())]
            )
        # stats cover every key column PLUS prunable non-key columns
        # (capped, Delta's dataSkippingNumIndexedCols mechanic) so
        # predicate scans — not just keyed mutations — skip files
        stat_cols = list(self.keys)
        if not dv:
            for f_ in schema.fields:
                if len(stat_cols) >= STATS_MAX_COLS:
                    break
                if (
                    f_.name not in stat_cols
                    and f_.dataType.simpleString().split("(")[0]
                    in _STATS_COL_TYPES
                ):
                    stat_cols.append(f_.name)
        aggs = [F.count(F.lit(1)).alias("_rows")]
        for i, k in enumerate(stat_cols):
            aggs.append(F.min(k).alias(f"_mn{i}"))
            aggs.append(F.max(k).alias(f"_mx{i}"))
        k0 = self.keys[0]
        want_bloom = (
            not dv
            and self.schema[k0].dataType.simpleString()
            in _BLOOM_KEY_TYPES
        )
        if want_bloom:
            # distinct RAW 16-bit probe slices per file, folded into
            # the SAME stats aggregate — the set is bounded by the
            # slice domain (BLOOM_MAX_BITS) however many rows the file
            # holds, so this stays metadata. The mask size m is chosen
            # per file on the driver from the observed distinct-slice
            # count, then bits land at slice % m: sizing the filter to
            # the file keeps the false-positive rate flat as files
            # grow instead of drifting toward 1 at a fixed m. The key
            # md5 is computed ONCE per row (the _md5k projection added
            # to stat_src below); each probe reads its own 4-hex-char
            # slice of it — hashing was the dominant cost of this agg
            # when evaluated per probe (measured on s13, round 7).
            for j in range(BLOOM_PROBES):
                pos = F.expr(
                    f"cast(conv(substring(_md5k,"
                    f" {1 + 4 * j}, 4), 16, 10) as int)"
                )
                aggs.append(F.collect_set(pos).alias(f"_bp{j}"))
        active = {} if dv else self.constraints()
        for ci, (cn, ce) in enumerate(sorted(active.items())):
            # CHECK enforcement rides the same stats aggregate: count
            # rows where the expression is FALSE (NULL passes, per the
            # SQL standard) — zero extra jobs per write
            aggs.append(
                F.sum(
                    F.expr(f"coalesce(not ({ce}), false)").cast("int")
                ).alias(f"_cv{ci}")
            )
        gencols = {} if dv else self._gencols_at(None)
        for gi, (gn, ge) in enumerate(sorted(gencols.items())):
            # GENERATED ALWAYS AS validation rides the same aggregate:
            # _conform computed the column when absent, so a non-zero
            # count here means the CALLER supplied explicit values that
            # contradict the expression — rejected like a CHECK
            aggs.append(
                F.sum(
                    F.expr(f"cast(not (`{gn}` <=> ({ge})) as int)")
                ).alias(f"_gv{gi}")
            )
        # explicit LEAF file list (a directory read on a partitioned
        # write would partition-infer the p_<col>= dirs into extra
        # columns; the fast path below needs the list either way)
        leaves = [
            os.path.join(dp, fn)
            for dp, _, fns in os.walk(out_dir)
            for fn in fns
            if fn.endswith(".parquet")
        ]
        # SMALL-COMMIT FAST PATH: when the freshly-written files are
        # tiny (metadata-scale) and carry no CHECK/GENERATED
        # validation, per-file stats + bloom slices are computed
        # driver-side from the parquet files via pyarrow instead of a
        # Spark aggregate job — same values, ~50x less wall per commit
        # (a 1k-row commit's stats job costs ~0.6 s of pure job-launch
        # overhead; the pyarrow read is ~5 ms). At production scale a
        # commit blows the size gate immediately and the distributed
        # stats pass below runs unchanged.
        stat_rows = (
            None
            if (active or gencols)
            else self._driver_stat_rows(leaves, schema, stat_cols, want_bloom)
        )
        if stat_rows is None:
            if parted:
                stat_src = (
                    self.spark.read.schema(schema).parquet(*leaves)
                    if leaves
                    else self.spark.createDataFrame([], schema)
                )
            else:
                stat_src = self.spark.read.schema(schema).parquet(out_dir)
            for lg, ph in cmap.items():
                # CHECK expressions name LOGICAL columns; alias them
                # onto the physical-named stats frame (a logical name
                # never shadows another column's physical name —
                # excluded at rename time)
                if ph != lg:
                    stat_src = stat_src.withColumn(lg, F.col(ph))
            if want_bloom:
                stat_src = stat_src.withColumn(
                    "_md5k", F.expr(f"md5(cast(`{k0}` as string))")
                )
            stat_rows = (
                stat_src.groupBy(F.input_file_name().alias("_f"))
                .agg(*aggs)
                .collect()
            )
        for ci, (cn, ce) in enumerate(sorted(active.items())):
            bad = sum(r[f"_cv{ci}"] or 0 for r in stat_rows)
            if bad:
                shutil.rmtree(out_dir, ignore_errors=True)
                raise ConstraintViolation(
                    f"write violates CHECK {cn!r} ({ce}): {bad} rows"
                )
        for gi, (gn, ge) in enumerate(sorted(gencols.items())):
            bad = sum(r[f"_gv{gi}"] or 0 for r in stat_rows)
            if bad:
                shutil.rmtree(out_dir, ignore_errors=True)
                raise ConstraintViolation(
                    f"write contradicts GENERATED column {gn!r} "
                    f"({ge}): {bad} rows"
                )
        adds = []
        sidecar_masks: dict[str, str] = {}
        norm_out = os.path.normpath(out_dir)
        from urllib.parse import unquote

        for r in stat_rows:
            # input_file_name() returns a URI: the FILESYSTEM name is
            # its single-unquote (space -> %20, and hive-escaped dirs
            # like p_c=A%25B -> A%2525B in URI form). The log must
            # store the literal on-disk path or every later consumer
            # that doesn't URI-decode (pyarrow in the stream reader,
            # os.remove in the zero-row scrub — which would otherwise
            # DELETE freshly-written files it fails to match) breaks
            # on any partition value needing escapes.
            fp = unquote(r["_f"].split("?", 1)[0])
            if fp.startswith("file:"):
                fp = fp[len("file:") :]
            sub = os.path.relpath(os.path.normpath(fp), norm_out)
            action = {
                "path": f"{rel_dir}/{sub}",
                "rows": r["_rows"],
                "stats": {
                    k: [_js(r[f"_mn{i}"]), _js(r[f"_mx{i}"])]
                    for i, k in enumerate(stat_cols)
                },
            }
            if parted:
                # Delta's partitionValues: the values as hive-path
                # strings, parsed from the p_<col>=<value> segments
                from urllib.parse import unquote

                part: dict[str, str | None] = {}
                for seg in sub.split(os.sep)[:-1]:
                    if not seg.startswith("p_") or "=" not in seg:
                        continue
                    c, v = seg.split("=", 1)
                    if c[2:] in self.partition_by:
                        part[c[2:]] = (
                            None
                            if v == "__HIVE_DEFAULT_PARTITION__"
                            else unquote(v)
                        )
                action["part"] = part
            if want_bloom:
                # distinct slice count ~ distinct keys in the file
                # (collisions only shrink it, which under-sizes m by
                # at most the birthday-bound slack); m = next power of
                # two >= BITS_PER_KEY x keys, clamped to the slice
                # domain — beyond the cap the fpr climbs again, which
                # is the documented envelope of a 2x16-bit-probe mask
                ndv = max(len(r["_bp0"]), 1)
                m = BLOOM_MIN_BITS
                while m < ndv * BLOOM_BITS_PER_KEY and m < BLOOM_MAX_BITS:
                    m *= 2
                mask = 0
                for j in range(BLOOM_PROBES):
                    for p in r[f"_bp{j}"]:
                        mask |= 1 << (p % m)
                # the up-to-16 KiB hex mask lives in a SIDECAR file
                # staged alongside the data (Delta's sidecar-index
                # shape): log entries and checkpoints carry only this
                # small reference, so plan-time metadata stays KB-scale
                # at any file count; readers resolve masks lazily and
                # only for range-surviving candidates (_resolve_bloom).
                # Legacy inline {"hex": ...} actions remain readable.
                sidecar_masks[action["path"]] = format(mask, "x")
                action["bloom"] = {
                    "m": m,
                    "j": BLOOM_PROBES,
                    "sidecar": f"{rel_dir}/blooms.json",
                }
            if dv:
                action["dv"] = True
            if carry_rowid:
                action["rowid_materialized"] = True
            adds.append({"add": action})
        if sidecar_masks:
            with open(
                os.path.join(out_dir, "blooms.json"), "w", encoding="utf-8"
            ) as f:
                json.dump(sidecar_masks, f)
        # zero-row part files never make it into the log; scrub them
        # so vacuum doesn't have to know about them
        logged = {a["add"]["path"] for a in adds}
        for dp, _, fns in os.walk(out_dir):
            for fn in fns:
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(dp, fn)
                sub = os.path.relpath(os.path.normpath(full), norm_out)
                if f"{rel_dir}/{sub}" not in logged:
                    os.remove(full)
        return adds

    def _commit(
        self,
        op: str,
        actions: list[dict],
        expected_version: int | None,
        staged_adds: list[str] | None = None,
    ) -> int:
        """CAS-commit ``actions`` as log entry ``expected_version+1``
        via the pluggable :class:`CommitBackend`. ``expected_version``
        is REQUIRED and must be the version the caller's snapshot was
        read at (Delta commits at read-version+1 for the same reason):
        committing over a version the caller never saw would silently
        build on a stale file set and lose the intervening writer's
        changes. A loser cleans up its staged files and raises
        :class:`CommitConflict` so it can rebase and retry.

        ``staged_adds`` is the list of add-paths the CALLER freshly
        wrote for this commit — the conflict cleanup set. It defaults
        to every add in ``actions``, which is correct for ordinary
        writes; commits that RE-REFERENCE existing files (restore,
        shallow clone) must pass ``[]`` or a losing race would delete
        live historical data."""
        os.makedirs(self._log_dir(), exist_ok=True)
        # WRITER protocol gate (Delta minWriterVersion): committing
        # with features the running code doesn't understand could
        # violate invariants a newer writer maintains
        self._check_protocol(expected_version, write=True)
        target = 0 if expected_version is None else expected_version + 1
        entry = {
            "version": target,
            "op": op,
            "ts": time.time(),  # commit wall-clock for TIMESTAMP AS OF
            "actions": actions,
        }
        if not self.backend.put_if_absent(
            self._log_path(target), json.dumps(entry)
        ):
            doomed = (
                staged_adds
                if staged_adds is not None
                else [a["add"]["path"] for a in actions if "add" in a]
            )
            for rel in doomed:
                p = os.path.join(self.path, rel)
                shutil.rmtree(os.path.dirname(p), ignore_errors=True)
            raise CommitConflict(f"v{target} committed concurrently")
        if target % CHECKPOINT_EVERY == 0 and target > 0:
            # checkpoints publish atomically (temp + rename): a reader
            # racing the writer — or a crash mid-write — must never
            # observe a torn checkpoint, which would make every
            # version >= it unreadable until manually deleted. Besides
            # the live-file set, the payload folds in the accumulated
            # TABLE METADATA — schema, CHECK constraints, streaming
            # txn markers (exactly what Delta checkpoints carry as
            # metaData/SetTransaction) — so _schema_at/constraints/
            # last_txn_version replay <= CHECKPOINT_EVERY entries
            # instead of walking the whole history on every call.
            payload = {
                "live": self._live(target),
                "schema": self._schema_at(target).jsonValue(),
                "constraints": self.constraints(target),
                "txn": self._txn_markers(target),
                "cmap": self._cmap_at(target),
            }
            if self.row_tracking_enabled(target):
                # fold the lazy row-id assignment like the live-file
                # set: later walks seed here instead of replaying the
                # whole history (the O(entries) cost the SCALE notes
                # attribute to a checkpoint-less table)
                bases, hwm = self._row_id_bases(target)
                payload["rowid"] = {"bases": bases, "hwm": hwm}
            self.backend.publish_atomic(
                self._ckpt_path(target), json.dumps(payload)
            )
        return target

    def _stable_partition_cols(self) -> set[str]:
        """Partition columns usable for MUTATION-side pruning: only
        those provably STABLE per key — a key column, or a GENERATED
        column whose expression references key columns only. Pruning
        the affected-file set by an INCOMING row's partition value
        assumes the key's old row lives in the same partition; if the
        value can change across versions of a row (e.g. a generated
        date from an updated timestamp), the old copy would escape the
        rewrite and survive as a duplicate key — a silent corruption.
        Read-side pruning (scan_candidates et al.) is unaffected: a
        predicate names the partitions it wants, not where old rows
        might hide."""
        import re

        out = {p for p in self.partition_by if p in self.keys}
        gen = self._gencols_at(None)
        keyset = set(self.keys)
        for p in self.partition_by:
            expr = gen.get(p)
            if p in out or expr is None:
                continue
            refs = {
                f.name
                for f in self.schema.fields
                if f.name != p
                and re.search(
                    rf"(?<![A-Za-z0-9_]){re.escape(f.name)}"
                    rf"(?![A-Za-z0-9_])",
                    expr,
                )
            }
            if refs <= keyset:
                out.add(p)
        return out

    def _bounds(self, incoming_keys: DataFrame) -> dict | None:
        """Per-column [lo, hi] of the incoming frame over the key AND
        key-STABLE partition columns present in it — ONE tiny
        aggregate (some callers pass fewer columns; pruning then uses
        the subset). Stable partition columns ride along so a keyed
        write that carries them prunes partition-first against the
        recorded partitionValues; non-stable partition columns are
        excluded (see ``_stable_partition_cols`` — pruning on them
        loses rows whose partition value changed). None when the
        incoming frame is empty."""
        stable = self._stable_partition_cols()
        cols = [
            c
            for c in (
                *self.keys,
                *[
                    p
                    for p in self.partition_by
                    if p not in self.keys and p in stable
                ],
            )
            if c in incoming_keys.columns
        ]
        aggs = []
        for i, k in enumerate(cols):
            aggs.append(F.min(k).alias(f"_lo{i}"))
            aggs.append(F.max(k).alias(f"_hi{i}"))
        # collect()[0], not first(): the aggregate yields exactly one
        # row, and executeTake's incremental partition scan launches a
        # second Spark job whenever the first partition probe comes up
        # empty (measured: 2 jobs per keyed mutation's bounds probe)
        row = incoming_keys.agg(*aggs).collect()[0]
        if all(row[f"_lo{i}"] is None for i in range(len(cols))):
            return None
        return {
            k: [_js(row[f"_lo{i}"]), _js(row[f"_hi{i}"])]
            for i, k in enumerate(cols)
        }

    def _affected(
        self,
        incoming_keys: DataFrame,
        version: int | None = None,
        use_bloom: bool = True,
        bounds: dict | None = None,
    ) -> list[str]:
        """Relpaths of files live at ``version`` whose key ranges can
        contain any incoming key — the file-skipping step, now over
        EVERY key column (disjoint on any one column ⇒ skip). One tiny
        aggregate on the incoming side; pure metadata on the table
        side.

        When the incoming key set is SMALL (≤ BLOOM_AFFECTED_LIMIT
        distinct first-key values — the point-upsert/point-delete
        case), the range survivors are additionally probed against the
        per-file Bloom masks: on a hash-shuffled layout where every
        file spans the full key range, this turns an
        every-file rewrite into an owner-files-only rewrite. Safe for
        mutations because the mask is built from the file's actual
        contents — a file holding an incoming key always probes
        positive (no false negatives), so the rewrite set still covers
        every row that must move. ``use_bloom=False`` exposes the
        range-only behavior (probes/audits). ``bounds`` lets a caller
        that already aggregated the incoming bounds share them (one
        Spark job instead of two per keyed mutation)."""
        if bounds is None:
            bounds = self._bounds(incoming_keys)
        if bounds is None:
            return []
        data, _ = self._split_live(version)
        cands = [
            p
            for p, meta in data.items()
            if _overlaps(self._file_stats(meta), bounds, self.keys)
        ]
        k0 = self.keys[0]
        if (
            use_bloom
            and len(cands) > 1
            and k0 in incoming_keys.columns
            and any(data[p].get("bloom") for p in cands)
        ):
            sample = (
                incoming_keys.select(k0)
                .distinct()
                .limit(BLOOM_AFFECTED_LIMIT + 1)
                .collect()
            )
            if len(sample) <= BLOOM_AFFECTED_LIMIT:
                vals = [r[0] for r in sample]
                resolved = {
                    p: self._resolve_bloom(p, data[p].get("bloom"))
                    for p in cands
                }
                cands = [
                    p
                    for p in cands
                    if not resolved[p]
                    or any(
                        _bloom_contains(resolved[p], v) for v in vals
                    )
                ]
        return cands

    def _read_files(self, relpaths: list[str]) -> DataFrame:
        return self._scan_files(relpaths, None)

    def _read_files_mor(
        self, relpaths: list[str], version: int | None = None
    ) -> DataFrame:
        """Read data files with merge-on-read applied: the deletion
        vectors live at ``version`` are subtracted, so rewrites never
        re-materialize tombstoned rows (which would resurrect as
        duplicates once a later write shrinks the DV)."""
        df = self._read_files(relpaths)
        _, dvs = self._split_live(version)
        if dvs:
            tomb = self.spark.read.schema(self._dv_schema()).parquet(
                *[os.path.join(self.path, p) for p in dvs]
            )
            df = df.join(F.broadcast(tomb), self.keys, "left_anti")
        return df

    def _dv_shrink_actions(
        self, incoming_keys: DataFrame, version: int | None = None
    ) -> list[dict]:
        """Remove incoming keys from any overlapping live deletion
        vector (remove+add actions, folded into the caller's commit so
        the write and its DV shrink are atomic). A write of a key must
        clear that key's tombstone or the new row would be invisible.
        Stats-pruned: only DV files whose key range overlaps the
        incoming keys are rewritten."""
        _, dvs = self._split_live(version)
        if not dvs:
            return []
        bounds = self._bounds(incoming_keys)
        if bounds is None:
            return []
        actions: list[dict] = []
        for relpath, meta in dvs.items():
            if not _overlaps(meta.get("stats"), bounds, self.keys):
                continue
            kept = self.spark.read.schema(self._dv_schema()).parquet(
                os.path.join(self.path, relpath)
            ).join(F.broadcast(incoming_keys), self.keys, "left_anti")
            actions.append({"remove": {"path": relpath}})
            actions.extend(self._write_files(kept, dv=True))
        return actions

    def _revive_actions(
        self, incoming_keys: DataFrame, version: int | None = None
    ) -> list[dict]:
        """Make re-inserting MOR-deleted keys safe for ops that do NOT
        rewrite data files (append / insert_ignore): shrink the
        overlapping deletion vectors AND purge the revived keys' old
        masked rows from their data files, all riding the caller's
        commit. Shrinking alone would resurrect the masked row next to
        the caller's new one — a duplicate key. The purge is a
        copy-on-write rewrite of just the stats-overlapping files,
        MOR-filtered so every tombstone in the region materializes at
        the same time. (upsert/delete don't need this: they already
        rewrite every affected file MOR-filtered.) When no incoming
        key is tombstoned — the overwhelmingly common case — this
        costs one semi-join against the tiny DV set and returns []."""
        _, dvs = self._split_live(version)
        if not dvs:
            return []
        tomb = self.spark.read.schema(self._dv_schema()).parquet(
            *[os.path.join(self.path, p) for p in dvs]
        )
        revived = tomb.join(
            incoming_keys, self.keys, "left_semi"
        ).localCheckpoint(eager=True)  # probed, then pruned + shrunk on
        if not revived.take(1):
            return []
        doomed = self._affected(revived, version)
        actions: list[dict] = [{"remove": {"path": p}} for p in doomed]
        if doomed:
            actions.extend(
                self._write_files(self._read_files_mor(doomed, version))
            )
        actions.extend(self._dv_shrink_actions(revived, version))
        return actions

    def _rebase_safe_for_rewrite(
        self,
        from_v: int | None,
        to_v: int | None,
        doomed: set[str],
        bounds: dict | None,
    ) -> bool:
        """Can a keyed copy-on-write commit built against snapshot
        ``from_v`` land verbatim on ``to_v`` (Delta's WriteSerializable
        conflict rules)? Safe iff every intervening commit is provably
        DISJOINT from what this mutation read and wrote:

        - it removed none of our ``doomed`` files (a remove there
          means our kept-rows snapshot is stale —
          ConcurrentDeleteReadException territory),
        - it added no file — data or deletion vector — whose key
          stats/partition values can overlap our incoming key bounds
          (an overlapping add could carry one of our keys, and our
          rewrite would duplicate or wrongly order it —
          ConcurrentAppendException territory),
        - no metadata/constraint action and no restore (the table
          changed shape under us).
        """
        if bounds is None:
            return False
        start = 0 if from_v is None else from_v + 1
        end = -1 if to_v is None else to_v
        for v in range(start, end + 1):
            if not os.path.exists(self._log_path(v)):
                return False
            with open(self._log_path(v), encoding="utf-8") as f:
                entry = json.load(f)
            if entry.get("op") == "restore":
                return False
            for a in entry["actions"]:
                if "metadata" in a or "constraint" in a:
                    return False
                if "remove" in a and a["remove"]["path"] in doomed:
                    return False
                add = a.get("add")
                if add and _overlaps(
                    self._file_stats(
                        {"stats": add.get("stats"), "part": add.get("part")}
                    ),
                    bounds,
                    self.keys,
                ):
                    return False
        return True

    def _rewrite(
        self,
        op: str,
        doomed: list[str],
        out: DataFrame | list[DataFrame],
        extra: list[dict] | None = None,
        expected_version: int | None = None,
        rebase_bounds: dict | None = None,
        max_rebases: int = 10,
    ) -> int:
        """Copy-on-write commit: replace ``doomed`` files with ``out``
        (remove+add in ONE atomic log entry — readers never see a
        half-applied mutation). ``out`` may be a LIST of frames staged
        as separate write jobs in the same commit — the id-preserving
        mutations use this to land carried rows (materialized
        ``_row_id``) and brand-new rows (lazy ids) atomically.
        ``extra`` actions (e.g. a DV shrink) ride the same commit.
        ``expected_version`` must be the version the caller's snapshot
        (doomed list, kept rows) was read at.

        ``rebase_bounds`` (the incoming key bounds of a KEYED
        mutation) opts into file-disjoint conflict resolution: a CAS
        loss against commits that touched none of our files and none
        of our key range re-commits the SAME staged output at the new
        head — no recompute, no re-stage. Writers on disjoint key
        ranges of a clustered 100 TB table then serialize without
        ever re-running each other's work, which is the Delta
        WriteSerializable behavior. Predicate mutations (update /
        delete) read EVERY live file, so they never pass bounds and
        keep strict raise-on-conflict."""
        extra = extra or []
        outs = out if isinstance(out, list) else [out]
        adds = [a for o in outs for a in self._write_files(o)]
        actions = [{"remove": {"path": p}} for p in doomed] + adds + extra
        # The rebase conflict set must cover EVERY file this commit
        # removes, not just the caller's doomed data files: ``extra``
        # carries deletion-vector shrinks (remove+add on a DV file
        # built from OUR snapshot). If a rival commit shrank the same
        # DV — possible even for disjoint key ranges, since one DV file
        # can span both ranges — re-committing our stale DV copy would
        # resurrect tombstones the rival cleared, silently masking its
        # newly written rows (lost update). Seeing the rival's remove
        # of any file we also remove forces the strict-raise path.
        removed = {a["remove"]["path"] for a in actions if "remove" in a}
        base = expected_version
        for _ in range(max_rebases + 1):
            try:
                return self._commit(op, actions, base, staged_adds=[])
            except CommitConflict:
                new_base = self.current_version()
                if rebase_bounds is None or not self._rebase_safe_for_rewrite(
                    base, new_base, removed, rebase_bounds
                ):
                    self._drop_staged(
                        [a for a in actions if "add" in a]
                    )
                    raise
                base = new_base
        self._drop_staged([a for a in actions if "add" in a])
        raise CommitConflict(f"{op} gave up after {max_rebases} rebases")

    # -- mutations (same surface as ParquetTable) ---------------------------
    #
    # Every mutation pins base = current_version() BEFORE materializing
    # its snapshot (affected files, kept rows, DV state) and commits at
    # base+1, so a commit landing in between raises CommitConflict
    # instead of being silently built over (the lost-update anomaly).
    # Callers rebase by re-invoking the mutation (or use
    # modify_with_retry for the generic loop).

    def init(self, df: DataFrame) -> None:
        actions = self._write_files(df)
        if self._generated:
            # persist the constructor's GENERATED declaration so every
            # other instance/session resolves it from the log, and
            # gate pre-feature writers (they would append NULLs
            # unvalidated)
            state = json.loads(json.dumps(self._cmap_at(None)))
            state["gen"] = dict(self._generated)
            prot = state.setdefault("protocol", {})
            prot["min_writer"] = max(prot.get("min_writer", 1), 2)
            prot.setdefault("min_reader", 1)
            actions = actions + [
                {
                    "metadata": {
                        "schema": self._base_schema.jsonValue(),
                        "cmap": state,
                    }
                }
            ]
        self._commit("init", actions, self.current_version())

    def _rebase_safe_for_append(
        self, from_v: int | None, to_v: int | None, bounds: dict | None
    ) -> bool:
        """Can a pure-ADD commit staged against snapshot ``from_v`` be
        re-committed verbatim on top of ``to_v`` (Delta's blind-append
        conflict resolution)? Adds/removes of OTHER data files never
        conflict with fresh adds; what does is anything that would
        have changed what we staged or how it reads back:

        - a metadata action (schema changed under us) or a constraint
          action (our staged rows were validated against the OLD set),
        - a RESTORE (the table jumped eras),
        - a deletion-vector add whose key range overlaps our incoming
          keys (our new row would land already-tombstoned — the append
          must instead recompute its revive actions).
        """
        start = 0 if from_v is None else from_v + 1
        end = -1 if to_v is None else to_v
        for v in range(start, end + 1):
            if not os.path.exists(self._log_path(v)):
                return False
            with open(self._log_path(v), encoding="utf-8") as f:
                entry = json.load(f)
            if entry.get("op") == "restore":
                return False
            for a in entry["actions"]:
                if "metadata" in a or "constraint" in a:
                    return False
                add = a.get("add")
                if (
                    add
                    and add.get("dv")
                    and bounds is not None
                    and _overlaps(add.get("stats"), bounds, self.keys)
                ):
                    return False
        return True

    def _drop_staged(self, adds: list[dict] | None) -> None:
        for a in adds or []:
            if "add" in a:
                p = os.path.join(self.path, a["add"]["path"])
                shutil.rmtree(os.path.dirname(p), ignore_errors=True)

    def _append_with_rebase(
        self,
        rows: DataFrame,
        marker: tuple[str, int] | None,
        max_retries: int,
    ) -> bool:
        """Shared engine for append / append_once: stage the data
        files ONCE, and on a CAS conflict REBASE the same staged adds
        onto the new head when the intervening commits are provably
        disjoint (``_rebase_safe_for_append``) instead of deleting and
        re-writing them — Delta's blind-append resolution. At 100 TB
        the staged parquet is the expensive part of an append; under
        writer contention the old loser-re-stages-everything loop
        multiplies that cost by the retry count for zero benefit.
        Snapshot-DEPENDENT pieces (revive actions for tombstoned keys)
        are recomputed per attempt and re-staged only when present."""
        keys_df = self._conform(rows).select(*self.keys)
        bounds = self._bounds(keys_df)
        staged: list[dict] | None = None
        for _ in range(max_retries + 1):
            base = self.current_version()
            if marker is not None:
                last = self.last_txn_version(marker[0])
                if last is not None and last >= marker[1]:
                    self._drop_staged(staged)
                    return False
            revive = self._revive_actions(keys_df, base)
            if staged is None:
                staged = self._write_files(rows)
            actions = staged + revive
            if marker is not None:
                actions = actions + [
                    {"txn": {"app": marker[0], "version": marker[1]}}
                ]
            try:
                # cleanup is managed here (staged files survive a
                # rebase), so _commit must not delete them on loss
                self._commit("append", actions, base, staged_adds=[])
                return True
            except CommitConflict:
                # snapshot-dependent revive files never survive a lap
                self._drop_staged(
                    [a for a in revive if "add" in a]
                )
                new_base = self.current_version()
                if revive or not self._rebase_safe_for_append(
                    base, new_base, bounds
                ):
                    self._drop_staged(staged)
                    staged = None  # re-stage against the new snapshot
                continue
        self._drop_staged(staged)
        raise CommitConflict(
            f"append gave up after {max_retries} rebases"
        )

    def append(
        self,
        rows: DataFrame,
        max_retries: int = 10,
        merge_schema: bool = False,
    ) -> None:
        # append-only: new files, zero rewrite — the op Versioned
        # ParquetTable pays a full table copy for. If an appended key
        # is currently tombstoned, the DV shrink AND the purge of its
        # old masked row ride the same commit (_revive_actions). A CAS
        # loss against a disjoint commit rebases the SAME staged files
        # instead of re-writing them (blind-append resolution).
        # ``merge_schema=True`` is Delta's mergeSchema write option:
        # columns present in ``rows`` but absent from the table are
        # added (same retired-physical-name rules as add_columns) in
        # the SAME commit that lands the data.
        if merge_schema:
            self._append_evolving(rows, max_retries)
        else:
            self._append_with_rebase(
                rows, marker=None, max_retries=max_retries
            )

    def _evolution_meta(self, rows: DataFrame, base: int | None):
        """(metadata action, widened schema, widened cmap state) for
        the columns ``rows`` carries beyond the schema at ``base`` —
        or (None, None, None) when the frame already fits. Mirrors
        add_columns' retired-physical-name remapping so a mergeSchema
        write can never resurrect a dropped column's bytes."""
        import pyspark.sql.types as T

        cur = self._schema_at(base)
        have = set(cur.fieldNames())
        extra = [f for f in rows.schema.fields if f.name not in have]
        if not extra:
            return None, None, None
        self._check_protocol(base, write=True)
        new = T.StructType(
            list(cur.fields)
            + [T.StructField(f.name, f.dataType, True) for f in extra]
        )
        state = json.loads(json.dumps(self._cmap_at(base)))
        m = state.setdefault("map", {})
        used_physical = {
            m.get(f.name, f.name) for f in cur.fields
        } | set(state.get("retired", []))
        changed = False
        for f in extra:
            if f.name in used_physical:
                m[f.name] = f"{f.name}__p{0 if base is None else base + 1}"
                changed = True
        meta: dict = {"schema": new.jsonValue()}
        if changed or state != _default_cmap():
            meta["cmap"] = state
        return {"metadata": meta}, new, state

    def _append_evolving(self, rows: DataFrame, max_retries: int) -> None:
        """Schema-evolving append: the widening metadata action and
        the data files land in ONE commit (Delta's mergeSchema write —
        a crash can never leave data the declared schema can't
        describe). Staging runs under the pending widened schema/cmap
        so files and their stats are written with the same physical
        names the metadata action declares. A CAS loss always
        re-derives the evolution against the new head and re-stages —
        blind-append rebase is unsafe here because an intervening
        commit may have added the same column under a different
        physical name."""
        for _ in range(max_retries + 1):
            base = self.current_version()
            meta_action, new_schema, new_state = self._evolution_meta(
                rows, base
            )
            if meta_action is None:
                return self._append_with_rebase(
                    rows, marker=None, max_retries=max_retries
                )
            self._pending_schema = new_schema
            self._pending_cmap = new_state
            try:
                keys_df = self._conform(rows).select(*self.keys)
                revive = self._revive_actions(keys_df, base)
                staged = self._write_files(rows)
                try:
                    self._commit(
                        "append_evolve",
                        [meta_action] + staged + revive,
                        base,
                        staged_adds=[],
                    )
                    return
                except CommitConflict:
                    self._drop_staged(
                        staged + [a for a in revive if "add" in a]
                    )
                    continue
            finally:
                self._pending_schema = None
                self._pending_cmap = None
        raise CommitConflict(
            f"append(merge_schema) gave up after {max_retries} retries"
        )

    def _txn_markers(self, version: int | None) -> dict[str, int]:
        """app_id -> newest txn version at ``version``, replayed from
        the newest checkpoint carrying the ``txn`` map (at most
        CHECKPOINT_EVERY entry reads); pre-field checkpoints fall back
        to the full walk."""
        out: dict[str, int] = {}
        if version is None:
            return out
        start = 0
        for v in range(version, -1, -1):
            ck = self._ckpt_payload(v)
            if ck is not None and "txn" in ck:
                out = dict(ck["txn"])
                start = v + 1
                break
        for v in range(start, version + 1):
            if not os.path.exists(self._log_path(v)):
                continue
            with open(self._log_path(v), encoding="utf-8") as f:
                entry = json.load(f)
            for a in entry["actions"]:
                t = a.get("txn")
                if t:
                    out[t["app"]] = max(
                        t["version"], out.get(t["app"], t["version"])
                    )
        return out

    def last_txn_version(self, app_id: str) -> int | None:
        """Newest streaming-transaction version committed for
        ``app_id`` — Delta's SetTransaction (``txn``) action, the
        idempotence handshake for exactly-once micro-batch sinks.
        Checkpoints fold the accumulated marker map in (Delta
        checkpoints carry SetTransaction for the same reason), so the
        walk is bounded; log entries are never deleted (vacuum removes
        data files only), so the fallback walk always finds the
        marker."""
        return self._txn_markers(self.current_version()).get(app_id)

    def append_once(
        self, rows: DataFrame, app_id: str, version: int,
        max_retries: int = 10,
    ) -> bool:
        """Transactionally idempotent append: the data files and a
        ``txn`` marker ``(app_id, version)`` land in ONE commit, so a
        replayed micro-batch (checkpoint loss, sink retry after a
        crash between write and checkpoint) is skipped wholesale —
        exactly-once without relying on key-based dedup. Returns False
        when this (app_id, version) already committed. A CAS loser
        re-reads the marker before retrying, so two racing deliveries
        of the same batch commit exactly once; a loss against a
        DISJOINT commit rebases the already-staged files instead of
        re-writing them (blind-append resolution). Retries are CAPPED
        like ``modify_with_retry``: under sustained contention from
        other writers an unbounded loop would spin forever — a hot
        table should surface :class:`CommitConflict` and let the
        sink's own retry policy decide."""
        return self._append_with_rebase(
            rows, marker=(app_id, version), max_retries=max_retries
        )

    def insert_ignore(self, rows: DataFrame) -> int:
        base = self.current_version()
        incoming = self._conform(rows).dropDuplicates(self.keys)
        affected = self._affected(incoming, base)
        # existence is judged on the MOR view: a DV-deleted key is NOT
        # existing, so re-inserting it must succeed
        fresh = incoming.join(
            self._read_files_mor(affected, base).select(self.keys),
            self.keys,
            "left_anti",
        )
        n = fresh.count()
        if n:
            revive = self._revive_actions(fresh.select(*self.keys), base)
            self._commit(
                "insert_ignore", self._write_files(fresh) + revive, base
            )
        return n

    def upsert(self, rows: DataFrame) -> None:
        base = self.current_version()
        conformed = self._conform(rows)
        incoming = conformed.dropDuplicates(self.keys)
        # one bounds aggregate shared by the affected-file pruning and
        # the rebase bounds (was two identical Spark jobs per upsert).
        # Probe the PRE-dedup frame: duplicates change neither min/max
        # nor the distinct key sample, and skipping the dropDuplicates
        # wrapper keeps both probe plans a single narrow stage (no
        # keyed dedup shuffle inside a metadata-sized aggregate).
        bounds = self._bounds(conformed)
        affected = (
            self._affected(conformed, base, bounds=bounds)
            if bounds is not None
            else []
        )
        if self.row_tracking_enabled(base):
            # Delta row-tracking semantics: matched rows KEEP their
            # stable id through the rewrite (inherited via one keyed
            # join against the affected region's ids); brand-new keys
            # land in a separate non-materialized file set and get
            # fresh lazy ids above the high-water mark.
            olds = self._read_files_mor_with_row_ids(affected, base)
            kept = olds.join(
                incoming.select(self.keys), self.keys, "left_anti"
            )
            inc = incoming.join(
                olds.select(*self.keys, ROWID_COL),
                self.keys,
                "left",
            )
            out: DataFrame | list[DataFrame] = [
                kept.unionByName(
                    inc.filter(F.col(ROWID_COL).isNotNull())
                ),
                inc.filter(F.col(ROWID_COL).isNull()).drop(ROWID_COL),
            ]
        else:
            kept = self._read_files_mor(affected, base).join(
                incoming.select(self.keys), self.keys, "left_anti"
            )
            out = kept.unionByName(incoming)
        self._rewrite(
            "upsert",
            affected,
            out,
            extra=self._dv_shrink_actions(incoming.select(*self.keys), base),
            expected_version=base,
            rebase_bounds=bounds,
        )

    def delete_keys(self, keys_df: DataFrame) -> None:
        base = self.current_version()
        # one bounds aggregate shared by the affected-file pruning and
        # the rebase bounds (was two identical Spark jobs per delete)
        bounds = self._bounds(keys_df)
        affected = (
            self._affected(keys_df, base, bounds=bounds)
            if bounds is not None
            else []
        )
        if not affected:
            return
        src = (
            self._read_files_mor_with_row_ids(affected, base)
            if self.row_tracking_enabled(base)
            else self._read_files_mor(affected, base)
        )
        out = src.join(keys_df, self.keys, "left_anti")
        self._rewrite(
            "delete_keys",
            affected,
            out,
            expected_version=base,
            rebase_bounds=bounds,
        )

    def delete_keys_deferred(self, keys_df: DataFrame) -> None:
        """Merge-on-read DELETE (Delta/Iceberg v2 deletion-vector
        shape): commit a tombstone file of the deleted KEYS — zero
        data files touched, so the delete is metadata-speed no matter
        how large the table — and let every read subtract it with one
        broadcast anti-join. ``compact()`` (or any rewrite touching
        the region) later materializes the delete and drops inert
        tombstones; a subsequent write of a tombstoned key atomically
        shrinks the DV so the new row is visible."""
        base = self.current_version()
        dv = (
            keys_df.select(
                *[F.col(k) for k in self.keys]
            ).dropDuplicates(self.keys)
        )
        adds = self._write_files(dv, dv=True)
        if adds:
            self._commit("delete_keys_deferred", adds, base)

    def _files_matching(
        self, condition: Column, version: int | None = None
    ) -> list[str]:
        """Files live at ``version`` that contain at least one row
        matching an arbitrary predicate. One filtered
        metadata-projection scan — parquet row-group stats make it
        cheap — returning file NAMES to the driver, never rows.

        Matching is by FULL relpath, not basename: one partitioned
        write job emits files with IDENTICAL basenames
        (``part-00000-<job uuid>...``) into every partition directory,
        so basename matching flagged every partition's file whenever
        any one matched — predicate update/delete/replace_where then
        rewrote the whole table instead of the predicate's region
        (found by s36's untouched-files assertion, round 8)."""
        from urllib.parse import unquote

        live = list(self._split_live(version)[0])
        if not live:
            return []
        hits = set()
        for r in (
            self._read_files(live)
            .filter(condition)
            .select(F.input_file_name().alias("_f"))
            .distinct()
            .collect()
        ):
            # input_file_name() is a (possibly percent-encoded) URI:
            # strip query + scheme, decode, normalize to a local path
            f = unquote(r["_f"].split("?", 1)[0])
            if f.startswith("file:"):
                f = "/" + f.split(":", 1)[1].lstrip("/")
            hits.add(os.path.normpath(f))
        root = os.path.normpath(os.path.abspath(self.path))
        return [
            p
            for p in live
            if os.path.normpath(
                p if os.path.isabs(p) else os.path.join(root, p)
            )
            in hits
        ]

    def update(self, condition: Column, assignments: dict[str, Column]) -> None:
        base = self.current_version()
        affected = self._files_matching(condition, base)
        if not affected:
            return
        # Row tracking: EVERY surviving row keeps its id through the
        # copy-on-write rewrite — updated rows included (a Delta row id
        # names the row, not the row version; lineage across an update
        # is exactly what the id is for, change history is the CDF's)
        df = (
            self._read_files_mor_with_row_ids(affected, base)
            if self.row_tracking_enabled(base)
            else self._read_files_mor(affected, base)
        )
        out = df.select(
            *[
                F.when(condition, assignments[c]).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in df.columns
            ]
        )
        # an UPDATE touching a generated column's SOURCE would leave a
        # stale generated value: drop unassigned generated columns so
        # _conform regenerates them (Delta regenerates on UPDATE too);
        # explicitly assigned ones stay and are validated at write
        for g in self._gencols_at(base):
            if g not in assignments:
                out = out.drop(g)
        self._rewrite("update", affected, out, expected_version=base)

    def delete(self, condition: Column) -> None:
        base = self.current_version()
        affected = self._files_matching(condition, base)
        if not affected:
            return
        # NOT(pred IS TRUE), not ~pred: a NULL-evaluating predicate
        # keeps its row (SQL DELETE semantics) — matters exactly when
        # a rewritten file carries both matching and NULL-predicate
        # rows (same fix as ParquetTable.delete)
        src = (
            self._read_files_mor_with_row_ids(affected, base)
            if self.row_tracking_enabled(base)
            else self._read_files_mor(affected, base)
        )
        out = src.filter(~F.coalesce(condition, F.lit(False)))
        self._rewrite("delete", affected, out, expected_version=base)

    def replace_where(self, rows: DataFrame, condition: Column) -> None:
        """Delta's ``replaceWhere`` (``df.write.option("replaceWhere",
        pred)``): atomically replace EXACTLY the rows matching
        ``condition`` with ``rows`` — remove of every file containing a
        matching row, re-add of its non-matching remainder, and the new
        data, all in ONE copy-on-write commit (readers see the old
        region or the new one, never a mix). Two validations before any
        file is staged, both fail-loud like Delta's:

        - every incoming row must satisfy the predicate (Delta raises
          on replaceWhere violations);
        - on a KEYED table, incoming keys must not collide with rows
          SURVIVING outside the replaced region (the alternative is a
          silent duplicate key). The check reads only the key-pruned
          files not already being rewritten — stats/bloom skipping
          keeps it O(owner files), not O(table).

        At 100 TB the matching-file discovery is one metadata-cheap
        filtered projection scan (parquet row-group stats prune it),
        and the rewrite touches exactly the predicate's region — the
        standard idempotent partition-reload pattern (re-land one day
        of a date-partitioned fact) without a table lock."""
        base = self.current_version()
        incoming = self._conform(rows).dropDuplicates(self.keys)
        bad = (
            incoming.filter(~F.coalesce(condition, F.lit(False)))
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(
                "replace_where: incoming rows violate the predicate"
            )
        affected = self._files_matching(condition, base)
        outside = [
            p
            for p in self._affected(incoming, base)
            if p not in set(affected)
        ]
        if outside:
            clash = (
                self._read_files_mor(outside, base)
                .filter(~F.coalesce(condition, F.lit(False)))
                .join(
                    incoming.select(*self.keys), self.keys, "left_semi"
                )
                .limit(1)
                .count()
            )
            if clash:
                raise ValueError(
                    "replace_where: incoming keys collide with rows "
                    "outside the replaced region"
                )
        tracked = self.row_tracking_enabled(base)
        if affected:
            src = (
                self._read_files_mor_with_row_ids(affected, base)
                if tracked
                else self._read_files_mor(affected, base)
            )
            kept = src.filter(~F.coalesce(condition, F.lit(False)))
            # carried rows keep their ids (materialized write); the
            # replacement region's rows are NEW rows — fresh lazy ids
            out: DataFrame | list[DataFrame] = (
                [kept, incoming] if tracked else kept.unionByName(incoming)
            )
        else:
            out = incoming
        self._rewrite(
            "replace_where",
            affected,
            out,
            extra=self._dv_shrink_actions(
                incoming.select(*self.keys), base
            ),
            expected_version=base,
        )

    def merge(
        self,
        source: DataFrame,
        update_assign: dict[str, Column] | None = None,
        update_cond: Column | None = None,
        delete_cond: Column | None = None,
    ) -> None:
        # MERGE touches exactly the files the source keys can live in;
        # unmatched-target rows in every other file are untouched by
        # construction, so restricting the full-outer join to the
        # affected region preserves merge semantics.
        base = self.current_version()
        # one bounds aggregate shared by the affected-file pruning and
        # the rebase bounds, as in upsert/delete_keys
        src_keys = source.select(*self.keys)
        bounds = self._bounds(src_keys)
        affected = (
            self._affected(src_keys, base, bounds=bounds)
            if bounds is not None
            else []
        )
        tracked = self.row_tracking_enabled(base)
        if tracked:
            # Row tracking: thread _row_id through merge_frame as an
            # extra non-key schema field — matched/kept target rows
            # pass theirs through, inserted source rows get NULL (the
            # split below routes them to a fresh-id write)
            import pyspark.sql.types as T

            schema = T.StructType(
                list(self.schema.fields)
                + [T.StructField(ROWID_COL, T.LongType())]
            )
            target = self._read_files_mor_with_row_ids(affected, base)
            # a source carrying a (user-supplied) _row_id column would
            # be mistaken for an id assignment — ids are allocated by
            # the table, never by callers
            if ROWID_COL in source.columns:
                source = source.drop(ROWID_COL)
        else:
            schema = self.schema
            target = self._read_files_mor(affected, base)
        out = merge_frame(
            schema,
            self.keys,
            target,
            source,
            update_assign,
            update_cond,
            delete_cond,
        )
        # same regeneration rule as update(): a generated column not
        # EXPLICITLY assigned is dropped so _conform regenerates it —
        # merge sources routinely carry stale (or null) values for
        # columns they didn't compute, and regeneration is always
        # valid by the invariant
        for g in self._gencols_at(base):
            if not update_assign or g not in update_assign:
                out = out.drop(g)
        self._rewrite(
            "merge",
            affected,
            self._split_by_rowid(out) if tracked else out,
            extra=self._dv_shrink_actions(src_keys, base),
            expected_version=base,
            rebase_bounds=bounds,
        )

    def compact(
        self,
        target_files: int,
        cluster_by: list[str] | None = None,
        zorder_by: tuple[str, ...] | None = None,
    ) -> None:
        """Small-files compaction; with ``cluster_by``, a CLUSTERED
        rewrite (Delta OPTIMIZE ZORDER / liquid-clustering shape):
        range-partition + sort on the cluster columns so each output
        file owns a disjoint value range. When the cluster key IS the
        table key, the per-file stats this format already logs become
        maximally selective — a keyed write then prunes to exactly one
        file instead of every file overlapping a broad hash-mixed
        range. This composes the two halves (stats skipping + layout)
        the same way a lakehouse does."""
        base = self.current_version()
        data, dvs = self._split_live(base)
        live = list(data) + list(dvs)
        # On a row-tracked table compaction MUST preserve ids (the
        # min_writer=3 gate exists to keep unaware writers from
        # breaking lineage — the aware writer can hardly break it
        # itself): read with ids attached so the rewrite materializes
        # them, exactly like compact_preserving_row_ids.
        df = (
            self.read_with_row_ids(base)
            if self.row_tracking_enabled(base)
            else self._read_files_mor(list(data), base)
        )
        if zorder_by:
            # OPTIMIZE ZORDER: Morton-interleave N NUMERIC dims
            # (operators/layout.py) so each output file owns a small
            # N-D bounding box — the logged per-file stats then prune
            # range scans on ANY listed dimension, which a
            # lexicographic cluster_by can only give its leading
            # column
            from .layout import zorder_key_nd

            df = (
                zorder_key_nd(df, list(zorder_by))
                .repartitionByRange(target_files, "z")
                .sortWithinPartitions("z")
                .drop("z")
            )
        elif cluster_by:
            cols = [F.col(c) for c in cluster_by]
            df = df.repartitionByRange(target_files, *cols).sortWithinPartitions(
                *cols
            )
        elif self.partition_by:
            # co-locate each partition value in one task so the
            # partitioned writer emits ~one file per value, not
            # tasks x values
            df = df.repartition(
                target_files, *[F.col(c) for c in self.partition_by]
            )
        else:
            df = df.repartition(target_files)
        self._rewrite("compact", live, df, expected_version=base)

    def compact_small(
        self, max_rows: int, target_files: int | None = None
    ) -> int | None:
        """Delta OPTIMIZE's small-file SELECTION: bin-pack only the
        live data files holding fewer than ``max_rows`` rows and leave
        every well-sized file untouched BY IDENTITY — at 100 TB,
        routine compaction must cost O(small files), not O(table),
        which full :meth:`compact` cannot promise. A steady drip of
        streaming micro-batch commits (the txnlog sink writes one file
        per task per batch) is exactly the workload that needs this.
        Deletion vectors are honored on the rewritten rows but NOT
        dropped: they may still mask rows in files this commit never
        reads (entries pointing into compacted files become inert).
        Returns the committed version, or None when fewer than two
        small files exist (nothing to bin-pack)."""
        base = self.current_version()
        data, _ = self._split_live(base)
        small = [
            p for p, m in data.items() if (m.get("rows") or 0) < max_rows
        ]
        if len(small) < 2:
            return None
        total = sum(data[p]["rows"] or 0 for p in small)
        n_out = target_files or max(1, -(-total // max_rows))
        # same id-preservation rule as compact(): bin-packed rows on a
        # row-tracked table carry their ids into the rewritten files
        df = (
            self._read_files_mor_with_row_ids(small, base)
            if self.row_tracking_enabled(base)
            else self._read_files_mor(small, base)
        )
        if self.partition_by:
            df = df.repartition(
                n_out, *[F.col(c) for c in self.partition_by]
            )
        else:
            df = df.repartition(n_out)
        return self._rewrite(
            "compact_small", small, df, expected_version=base
        )

    def purge_deletion_vectors(self) -> int | None:
        """Delta's ``REORG TABLE ... APPLY (PURGE)``: MATERIALIZE the
        merge-on-read deletes — rewrite exactly the data files still
        masked by a live deletion vector (minus their tombstoned rows)
        and drop every DV file, all in one atomic commit. The third
        leg of the MOR lifecycle (write DV → read-subtract → purge):
        after it, no read pays the anti-join again and vacuum can
        reclaim the purged bytes. Untouched files are kept BY IDENTITY
        (affected-file discovery is stats/bloom-pruned, then confirmed
        by one semi-joined metadata scan, so cost is O(masked files)
        not O(table)); on a row-tracked table every surviving row
        keeps its id (the rewrite reads with ids attached and
        materializes them). Returns the committed version, or None
        when the table has no live deletion vectors."""
        base = self.current_version()
        data, dvs = self._split_live(base)
        if not dvs:
            return None
        from urllib.parse import unquote

        tomb = self.spark.read.schema(self._dv_schema()).parquet(
            *[os.path.join(self.path, p) for p in dvs]
        )
        # candidate files by stats/bloom overlap, then EXACT: which
        # candidates actually hold a tombstoned row (same discovery
        # shape as _files_matching — file names to the driver, no rows)
        cand = self._affected(tomb, base)
        hits: list[str] = []
        if cand:
            seen = set()
            for r in (
                # file name projected BEFORE the join: input_file_name
                # is per-scan, and Spark refuses it above a two-source
                # join
                self._read_files(cand)
                .select(
                    *self.keys, F.input_file_name().alias("_f")
                )
                .join(F.broadcast(tomb), self.keys, "left_semi")
                .select("_f")
                .distinct()
                .collect()
            ):
                f = unquote(r["_f"].split("?", 1)[0])
                if f.startswith("file:"):
                    f = "/" + f.split(":", 1)[1].lstrip("/")
                seen.add(os.path.normpath(f))
            root = os.path.normpath(os.path.abspath(self.path))
            hits = [
                p
                for p in cand
                if os.path.normpath(os.path.join(root, p)) in seen
            ]
        if not hits:
            # every DV entry is inert (points at rewritten/removed
            # files): dropping the tombstones is metadata-only
            return self._commit(
                "purge_dv",
                [{"remove": {"path": p}} for p in dvs],
                base,
            )
        src = (
            self._read_files_mor_with_row_ids(hits, base)
            if self.row_tracking_enabled(base)
            else self._read_files_mor(hits, base)
        )
        return self._rewrite(
            "purge_dv",
            hits + list(dvs),
            src,
            expected_version=base,
        )

    # -- row tracking (Delta row tracking / Iceberg v3 row lineage) ----------
    #
    # Every row gets a STABLE id that survives appends, merge-on-read
    # deletes, and preserving compaction. The design keeps the write
    # path untouched for ordinary commits: fresh files get their ids
    # LAZILY — replaying the immutable log assigns each non-flagged
    # data add a contiguous [base, base+rows) range in commit order,
    # and a row's id is base + its position in the file (exposed by
    # the parquet scanner's _metadata.row_index). Because the log
    # prefix below any version never changes, the assignment is
    # deterministic and stable forever without allocating anything at
    # write time. Rewrites that must PRESERVE ids (compaction)
    # materialize the id into the rewritten files as a physical
    # _row_id column and flag their adds `rowid_materialized`, which
    # (a) makes readers trust the column over the lazy formula and
    # (b) excludes those files from base assignment so the high-water
    # mark — and therefore every fresh id — is unaffected by however
    # many times the table is compacted. Copy-on-write mutations
    # preserve ids the way Delta does: rows carried through a rewrite
    # (kept, updated, or merge-matched) keep the id they were born
    # with — update/delete read the affected region with ids attached
    # and write it back materialized; upsert/merge inherit matched
    # ids through one keyed join and split brand-new rows into a
    # separate non-materialized file set so they take fresh lazy ids
    # above the high-water mark (change HISTORY is the CDF's job; the
    # id names the row itself). At 100 TB
    # the lazy walk is metadata-plane (one pass over log JSON, no data
    # reads); a production build would fold (bases, hwm) into the
    # periodic checkpoint exactly like the live-file set.

    def enable_row_tracking(self) -> int:
        """Feature-gate commit: marks the table row-tracked and bumps
        min_writer to 3 so an unaware writer can't compact away the
        lineage. Metadata-only — no data files touched."""
        base = self.current_version()
        self._check_protocol(base, write=True)
        if self.row_tracking_enabled(base):
            return base if base is not None else 0
        if ROWID_COL in self.schema.fieldNames():
            raise ValueError(f"{ROWID_COL} is reserved for row tracking")
        state = json.loads(json.dumps(self._cmap_at(base)))
        state["row_tracking"] = True
        prot = state.setdefault("protocol", {})
        prot["min_writer"] = max(prot.get("min_writer", 1), 3)
        # metadata actions carry the (unchanged) schema alongside the
        # cmap — the schema replay treats every metadata action as a
        # full statement of table metadata
        cur = self._schema_at(base) if base is not None else self.schema
        return self._commit(
            "enable_row_tracking",
            [{"metadata": {"schema": cur.jsonValue(), "cmap": state}}],
            base,
        )

    def row_tracking_enabled(self, version: int | None = None) -> bool:
        return bool(self._cmap_at(version).get("row_tracking"))

    def _row_id_bases(
        self, version: int | None = None
    ) -> tuple[dict[str, int], int]:
        """(relpath -> base row id, high-water mark) at ``version``:
        one metadata-plane walk of the log in commit order, seeded
        from the newest checkpoint carrying folded rowid state (so the
        walk replays <= CHECKPOINT_EVERY entries, like _live). Adds
        flagged ``rowid_materialized`` carry their ids physically and
        are skipped; a path re-referenced by restore/clone keeps its
        FIRST assignment (the log prefix is immutable, so this is
        stable across any later history)."""
        if version is None:
            version = self.current_version()
        bases: dict[str, int] = {}
        hwm = 0
        if version is None:
            return bases, hwm
        start = 0
        for v in range(version, -1, -1):
            ck = self._ckpt_payload(v)
            if ck is not None and "rowid" in ck:
                bases = dict(ck["rowid"]["bases"])
                hwm = ck["rowid"]["hwm"]
                start = v + 1
                break
        for v in range(start, version + 1):
            p = self._log_path(v)
            if not os.path.exists(p):
                continue
            with open(p, encoding="utf-8") as f:
                entry = json.load(f)
            for a in entry["actions"]:
                add = a.get("add")
                if (
                    not add
                    or add.get("dv")
                    or add.get("rowid_materialized")
                    or add["path"] in bases
                ):
                    continue
                bases[add["path"]] = hwm
                hwm += add.get("rows") or 0
        return bases, hwm

    def _attach_row_ids(
        self, data: dict[str, dict], version: int | None
    ) -> DataFrame:
        """Logical-schema read of the given data files with the stable
        ``_row_id`` column attached (no DV subtraction — callers apply
        it). Files written by a preserving rewrite carry the id
        physically (the column is trusted over the lazy formula — this
        also self-heals a restore that re-referenced materialized files
        without the flag); fresh files compute base +
        _metadata.row_index with the per-file base joined in from a
        broadcast map."""
        import pyspark.sql.types as T

        schema = self._schema_at(version)
        out_schema = T.StructType(
            list(schema.fields)
            + [T.StructField(ROWID_COL, T.LongType(), False)]
        )
        if not data:
            return self.spark.createDataFrame([], out_schema)
        import pyarrow.parquet as pq

        mat, fresh = [], []
        for rel in data:
            names = pq.read_schema(
                os.path.join(self.path, rel)
            ).names
            (mat if ROWID_COL in names else fresh).append(rel)
        m = self._mapping_at(version)
        phys_fields = [
            T.StructField(m.get(f.name, f.name), f.dataType, f.nullable)
            for f in schema.fields
        ]
        logical_sel = [
            F.col(m.get(f.name, f.name)).alias(f.name)
            for f in schema.fields
        ]
        parts = []
        if fresh:
            bases, _ = self._row_id_bases(version)
            # Base-map join key: the basename alone is NOT unique on a
            # partitioned table — one write job's task emits files
            # named part-<split>-<job uuid>-c000 into EVERY partition
            # directory it touches, so identical basenames coexist
            # across p_*= dirs (the same trap _files_matching
            # documents). The partition values are recorded in the log
            # (each add's partitionValues) AND present in the data
            # (files are self-contained), so (basename, partition
            # values) is an exact equi-join key with no URI decoding
            # and no suffix-match BNLJ. Files are grouped by their
            # recorded spec — spec evolution leaves old-era files
            # carrying old-era partitionValues — and each group joins
            # on its own key set.
            by_spec: dict[tuple, list[str]] = {}
            for rel in fresh:
                spec = tuple(sorted(data[rel].get("part") or {}))
                by_spec.setdefault(spec, []).append(rel)
            known = set(schema.fieldNames())
            for spec, rels in sorted(by_spec.items()):
                missing = [c for c in spec if c not in known]
                if missing:
                    raise RuntimeError(
                        "row tracking: live file partitioned by "
                        f"column(s) {missing} absent from the "
                        "version's schema; cannot disambiguate its "
                        "row-id base"
                    )
                rows = [
                    (
                        os.path.basename(p),
                        *[
                            (data[p].get("part") or {}).get(c)
                            for c in spec
                        ],
                        bases[p],
                    )
                    for p in rels
                ]
                ddl = "fname string"
                for i in range(len(spec)):
                    ddl += f", _pv{i} string"
                ddl += ", base long"
                bmap = self.spark.createDataFrame(rows, ddl)
                df = (
                    self.spark.read.schema(T.StructType(phys_fields))
                    .parquet(
                        *[os.path.join(self.path, p) for p in rels]
                    )
                    .select(
                        *logical_sel,
                        F.element_at(
                            F.split(
                                F.col("_metadata.file_path"), "/"
                            ),
                            -1,
                        ).alias("_fname"),
                        F.col("_metadata.row_index").alias("_ri"),
                    )
                )
                cond = df["_fname"] == bmap["fname"]
                for i, c in enumerate(spec):
                    # the recorded value IS the write-time
                    # cast-to-string of the column (hive escaping
                    # already undone at record time), so a null-safe
                    # string compare is exact
                    cond = cond & (
                        df[c].cast("string").eqNullSafe(bmap[f"_pv{i}"])
                    )
                parts.append(
                    df.join(F.broadcast(bmap), cond).select(
                        *[df[f.name] for f in schema.fields],
                        (bmap["base"] + df["_ri"]).alias(ROWID_COL),
                    )
                )
        if mat:
            df = self.spark.read.schema(
                T.StructType(
                    phys_fields + [T.StructField(ROWID_COL, T.LongType())]
                )
            ).parquet(*[os.path.join(self.path, p) for p in mat])
            parts.append(df.select(*logical_sel, F.col(ROWID_COL)))
        out = parts[0]
        for extra in parts[1:]:
            out = out.unionByName(extra)
        return out

    def _read_files_mor_with_row_ids(
        self, relpaths: list[str], version: int | None = None
    ) -> DataFrame:
        """:meth:`_read_files_mor` with ``_row_id`` attached — the
        id-preserving rewrites (update/delete/upsert/merge/compaction
        on a row-tracked table) read their affected region through
        this so surviving rows keep the ids they were born with."""
        data, dvs = self._split_live(version)
        df = self._attach_row_ids(
            {p: data[p] for p in relpaths}, version
        )
        if dvs:
            tomb = self.spark.read.schema(self._dv_schema()).parquet(
                *[os.path.join(self.path, p) for p in dvs]
            )
            df = df.join(F.broadcast(tomb), self.keys, "left_anti")
        return df

    def _split_by_rowid(self, out: DataFrame) -> list[DataFrame]:
        """Split a mixed rewrite frame into [carried rows (non-null
        ``_row_id``, written materialized), new rows (null ``_row_id``,
        written without the column so they take fresh lazy ids)]."""
        return [
            out.filter(F.col(ROWID_COL).isNotNull()),
            out.filter(F.col(ROWID_COL).isNull()).drop(ROWID_COL),
        ]

    def read_with_row_ids(self, version: int | None = None) -> DataFrame:
        """:meth:`read` plus the stable ``_row_id`` column. Merge-on-
        read deletion vectors subtract exactly as in :meth:`read`, so
        a tombstoned row's id disappears with it."""
        if not self.row_tracking_enabled(version):
            raise RuntimeError(
                "row tracking is not enabled on this table "
                "(call enable_row_tracking() first)"
            )
        data, dvs = self._split_live(version)
        out = self._attach_row_ids(data, version)
        if dvs:
            tomb = self.spark.read.schema(self._dv_schema()).parquet(
                *[os.path.join(self.path, p) for p in dvs]
            )
            out = out.join(F.broadcast(tomb), self.keys, "left_anti")
        return out

    def compact_preserving_row_ids(self, target_files: int) -> int:
        """Compaction that PRESERVES row ids: reads with ids attached,
        materializes ``_row_id`` into the rewritten files, and flags
        the adds so the high-water mark is untouched — after any
        number of compactions, every surviving row keeps the id it was
        born with and the next append continues exactly where the
        pre-compact table left off."""
        base = self.current_version()
        if not self.row_tracking_enabled(base):
            raise RuntimeError("row tracking is not enabled")
        data, dvs = self._split_live(base)
        df = self.read_with_row_ids(base).repartition(target_files)
        return self._rewrite(
            "compact_rowid",
            list(data) + list(dvs),
            df,
            expected_version=base,
        )

    # -- optimistic concurrency / retention ----------------------------------

    def restore(self, version: int) -> int:
        """Delta's RESTORE TABLE TO VERSION AS OF: roll the LIVE state
        back to an earlier snapshot with one METADATA-ONLY commit —
        remove every file live now but not then, re-add every file
        live then but not now. No data moves (the old files still
        exist unless vacuumed past; a vacuumed restore fails loudly at
        the subsequent read, same contract as vacuumed time travel),
        history is preserved (the restore is itself a new commit, so
        the "bad" era stays auditable and re-restorable), and the
        TABLE METADATA of the restored era — schema AND the active
        CHECK-constraint set — rides along when it differs (Delta's
        RESTORE contract: constraints are table metadata, so a
        constraint added after the target version is dropped rather
        than left silently ungated over rows it never validated;
        re-adding it afterwards re-runs the full existing-rows scan
        via :meth:`add_constraint`). At 100 TB this is the
        incident-response primitive: undoing a bad pipeline write
        costs KB of JSON."""
        base = self.current_version()
        if base is None:
            raise ValueError("cannot restore an empty table")
        target = self._live(version)  # raises on unknown version
        now = self._live(base)
        actions: list[dict] = [
            {"remove": {"path": p}} for p in now if p not in target
        ]
        actions += [
            {"add": {"path": p, **meta}}
            for p, meta in target.items()
            if p not in now
        ]
        old_schema = self._schema_at(version)
        cm_then = self._cmap_at(version)
        cm_now = self._cmap_at(base)
        if old_schema != self._schema_at(base) or cm_then != cm_now:
            # the restored era's COLUMN MAPPING rides along with its
            # schema (physical names are immutable, so old files read
            # correctly either way) — but retired physical names stay
            # retired (union) and the protocol never downgrades, so a
            # post-restore add_columns can still never resurrect a
            # dropped column's bytes
            restored = {
                "map": dict(cm_then.get("map", {})),
                "retired": sorted(
                    set(cm_then.get("retired", []))
                    | set(cm_now.get("retired", []))
                ),
                "protocol": {
                    k: max(
                        cm_then.get("protocol", {}).get(k, 1),
                        cm_now.get("protocol", {}).get(k, 1),
                    )
                    for k in ("min_reader", "min_writer")
                },
            }
            # GENERATED-column declarations are part of the restored
            # era's metadata too (dropping the field would silently
            # stop generation for every later writer)
            if "gen" in cm_then:
                restored["gen"] = dict(cm_then["gen"])
            elif "gen" in cm_now:
                # the target era predates the declaration: the columns
                # it generates may not even exist there — restoring
                # the old schema correctly drops the declaration
                pass
            actions.append(
                {
                    "metadata": {
                        "schema": old_schema.jsonValue(),
                        "cmap": restored,
                    }
                }
            )
        # restore the constraint set of the target era: drop what the
        # target didn't have, (re-)add what it had — drops precede
        # adds in the entry so an expression change replays correctly
        cons_now = self.constraints(base)
        cons_then = self.constraints(version)
        actions += [
            {"constraint": {"name": n, "drop": True}}
            for n in sorted(cons_now)
            if cons_then.get(n) != cons_now[n]
        ]
        actions += [
            {"constraint": {"name": n, "expr": e}}
            for n, e in sorted(cons_then.items())
            if cons_now.get(n) != e
        ]
        # re-referencing commit: nothing freshly staged, so a losing
        # race must clean up NOTHING (the re-added files are live
        # historical data)
        v = self._commit("restore", actions, base, staged_adds=[])
        if old_schema != self._schema_at(base) or cm_then != cm_now:
            # keep THIS instance's in-memory GENERATED declaration in
            # sync with what the restore just committed: restoring to
            # an era that predates add_generated_column drops the
            # declaration from the log, and _gencols_at's pre-commit
            # fallback to self._generated would otherwise make this
            # instance's next write reference a column no longer in
            # the restored schema (fresh instances resolve correctly
            # from the log)
            self._generated = dict(restored.get("gen", {}))
        return v

    def clone_to(self, dest_path: str) -> "TxnLogTable":
        """Delta's SHALLOW CLONE: a NEW independent table whose v0 log
        re-references this table's live data files by ABSOLUTE path —
        zero bytes copied, so cloning a 100 TB table for a dev/test
        branch costs KB of JSON. Writes to the clone stage under the
        clone's own data/ and the clone diverges without ever touching
        the source; active CHECK constraints ride along. The clone's
        vacuum never deletes external (source-owned) files; vacuuming
        the SOURCE past the cloned snapshot breaks the clone — the
        same documented contract Delta's shallow clones have."""
        src_version = self.current_version()
        if src_version is None:
            raise ValueError("cannot clone an empty table")
        clone = TxnLogTable(
            self.spark,
            dest_path,
            self._schema_at(src_version),
            self.keys,
            commit_backend=self.backend,
        )
        if clone.exists():
            raise ValueError(f"destination already has a log: {dest_path}")
        actions: list[dict] = [
            {
                "add": {
                    "path": os.path.join(self.path, p),
                    **meta,
                }
            }
            for p, meta in self._live(src_version).items()
        ]
        actions += [
            {"constraint": {"name": n, "expr": e}}
            for n, e in sorted(self.constraints(src_version).items())
        ]
        src_cmap = self._cmap_at(src_version)
        if src_cmap != _default_cmap():
            # the clone re-references the source's PHYSICAL files, so
            # the source's column mapping (and protocol) must transfer
            # or the clone would read renamed columns as all-NULL
            actions.append(
                {
                    "metadata": {
                        "schema": self._schema_at(
                            src_version
                        ).jsonValue(),
                        "cmap": src_cmap,
                    }
                }
            )
        # re-referencing commit: a losing race must clean up nothing
        clone._commit("clone", actions, None, staged_adds=[])
        return clone

    def commit_as(self, df: DataFrame, expected_version: int | None) -> int:
        """Full-snapshot CAS commit (the VersionedParquetTable
        interface ``modify_with_retry`` drives): land ``df`` as the
        complete next snapshot IFF the table is still at
        ``expected_version``."""
        doomed = (
            list(self._live(expected_version))
            if expected_version is not None
            else []
        )
        adds = self._write_files(df)
        removes = [{"remove": {"path": p}} for p in doomed]
        return self._commit("commit_as", removes + adds, expected_version)

    def modify_with_retry(self, transform, max_retries: int = 3) -> int:
        for _ in range(max_retries + 1):
            base = self.current_version()
            out = transform(self.read(base))
            try:
                return self.commit_as(out, base)
            except CommitConflict:
                continue
        raise CommitConflict(f"gave up after {max_retries} rebases")

    def repair(self, dry_run: bool = False) -> list[str]:
        """Delta's FSCK REPAIR TABLE: drop the log entries of LIVE
        files that are missing from storage (manual deletion, partial
        bucket restore, botched lifecycle rule) so the table reads
        again instead of failing on every scan. One metadata-only
        commit of remove actions; history stays auditable
        (op=fsck_repair) and earlier snapshots still time-travel if
        THEIR files survive. ``dry_run=True`` returns the missing
        relpaths without committing — the audit step first, like
        vacuum. NOTE: repairing a missing DELETION-VECTOR file
        resurrects the rows it masked (the tombstones are gone with
        it) — storage loss of a DV is data loss either way; the repair
        makes the remainder readable and the history records what was
        dropped."""
        base = self.current_version()
        if base is None:
            return []
        live = self._live(base)
        missing = sorted(
            p
            for p in live
            if not os.path.exists(os.path.join(self.path, p))
        )
        if dry_run or not missing:
            return missing
        self._commit(
            "fsck_repair",
            [{"remove": {"path": p}} for p in missing],
            base,
            staged_adds=[],
        )
        return missing

    def gc_orphans(
        self, grace_seconds: float = 604800.0, dry_run: bool = False
    ) -> list[str]:
        """The disk→log mirror of :meth:`repair`: physically delete
        data files under this table's root that NO log version ever
        referenced — the debris of crashed writers (staged then never
        committed, and the crash skipped the loser-cleanup path).
        ``grace_seconds`` protects in-flight writers: a file younger
        than the grace window may belong to a commit that has not
        CAS-landed yet, so it is never touched. The default is 7 DAYS
        — Delta's VACUUM retains uncommitted files for 7 days for
        exactly this reason (an hour-scale default can delete the
        staged parquet of a long-staging writer whose commit then
        lands referencing deleted files: silent data loss). The grace
        is additionally keyed off the YOUNGEST file in each staging
        directory, not per-file mtime, so a multi-file task whose
        staging phase outlives the window cannot lose its earliest
        files while still writing its last. Bloom sidecars of
        surviving directories are kept; ``dry_run`` audits. Returns
        the relpaths removed (or doomed)."""
        referenced: set[str] = set()
        sidecars: set[str] = set()
        for v in self.versions():
            with open(self._log_path(v), encoding="utf-8") as f:
                entry = json.load(f)
            for a in entry["actions"]:
                add = a.get("add")
                if not add:
                    continue
                p = add["path"]
                if not os.path.isabs(p):  # clone refs are external
                    referenced.add(os.path.normpath(p))
                sc = (add.get("bloom") or {}).get("sidecar")
                if sc:
                    sidecars.add(os.path.normpath(sc))
        data_root = os.path.join(self.path, "data")
        if not os.path.isdir(data_root):
            return []
        cutoff = time.time() - grace_seconds
        removed: list[str] = []
        # youngest mtime per directory: one task stages all its files
        # under one directory, so any young file protects its siblings
        dir_newest: dict[str, float] = {}
        for dp, _, fns in os.walk(data_root):
            for fn in fns:
                try:
                    mt = os.path.getmtime(os.path.join(dp, fn))
                except OSError:
                    continue
                if mt > dir_newest.get(dp, -1.0):
                    dir_newest[dp] = mt
        for dp, _, fns in os.walk(data_root):
            if dir_newest.get(dp, 0.0) > cutoff:
                continue  # possibly an in-flight writer's directory
            for fn in fns:
                full = os.path.join(dp, fn)
                rel = os.path.normpath(
                    os.path.relpath(full, self.path)
                )
                if rel in referenced or rel in sidecars:
                    continue
                try:
                    if not dry_run:
                        os.remove(full)
                    removed.append(rel)
                except OSError:
                    continue
        if not dry_run:
            # prune directories the sweep emptied
            for dp, dns, fns in os.walk(data_root, topdown=False):
                if dp != data_root and not dns and not fns:
                    try:
                        os.rmdir(dp)
                    except OSError:
                        pass
        return sorted(removed)

    def vacuum(
        self,
        keep_last: int = 2,
        retain_hours: float | None = None,
        dry_run: bool = False,
    ) -> list[str]:
        """Physically delete data files not referenced by any retained
        snapshot. Retention is the UNION of the newest ``keep_last``
        versions and (when ``retain_hours`` is given) every version
        committed within that window — Delta's ``VACUUM ... RETAIN n
        HOURS`` contract, resolvable here because commits carry wall
        clocks: time travel and TIMESTAMP AS OF stay exact inside the
        window. ``dry_run=True`` returns what WOULD be deleted without
        touching anything (the audit step a 100 TB operator runs
        first). Log entries always stay (KB of metadata; CAS version
        numbering stays monotonic — Delta's log-retention model); time
        travel past the retention fails loudly at read when Spark
        finds the files gone. Returns the relpaths removed (or doomed,
        under ``dry_run``)."""
        vs = self.versions()
        if not vs:
            return []
        keep_vs = set(vs[-keep_last:] if keep_last > 0 else [])
        if retain_hours is not None:
            # monotonically adjusted timestamps (_effective_ts): with
            # skewed writer clocks a raw ts could make a NEWER version
            # look older than the cutoff while an older one is kept —
            # the adjusted sequence keeps retention a contiguous suffix
            cutoff = time.time() - retain_hours * 3600.0
            for v, ts in self._effective_ts().items():
                if ts >= cutoff:
                    keep_vs.add(v)
        referenced: set[str] = set()
        for v in keep_vs:
            referenced |= set(self._live(v))
        doomed = set()
        for v in vs:
            doomed |= set(self._live(v))
        doomed -= referenced
        # a shallow clone's log references the SOURCE table's files by
        # absolute path: vacuum only ever deletes files under THIS
        # table's root (Delta's clone contract — the clone never owns,
        # and never deletes, external files)
        root = os.path.realpath(self.path) + os.sep
        removed = []
        for rel in doomed:
            full = os.path.join(self.path, rel)
            if not os.path.realpath(full).startswith(root):
                continue
            if dry_run:
                if os.path.exists(full):
                    removed.append(rel)
                continue
            try:
                os.remove(full)
                removed.append(rel)
            except OSError:
                pass
        if not dry_run:
            # a write directory none of whose files are referenced by
            # any retained snapshot is fully dead: remove the whole
            # tree so its bloom sidecar and empty partition dirs don't
            # accumulate as debris (the sidecar is never referenced as
            # an add-action path, so the file loop above can't reach
            # it). A dir with ANY referenced file keeps its sidecar —
            # live masks resolve through it.
            dead_dirs = {rel.split("/", 2)[1] for rel in removed
                         if rel.startswith("data/")}
            live_dirs = {rel.split("/", 2)[1] for rel in referenced
                         if rel.startswith("data/")}
            for d in dead_dirs - live_dirs:
                shutil.rmtree(
                    os.path.join(self.path, "data", d), ignore_errors=True
                )
        return sorted(removed)
