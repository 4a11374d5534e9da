"""TxnLogTable as a Structured Streaming SOURCE (Delta readStream
parity) via Spark 4's Python Data Source API.

``spark.readStream.format("txnlog").option("path", p).load()`` tails
the commit log: each micro-batch consumes exactly the data files
ADDED by the commits in ``(start_version, end_version]`` — offsets
ARE log versions, so the engine's offset checkpointing composes with
the table's own atomic commits to give exactly-once consumption of an
append-only feed with zero extra bookkeeping (Delta's streaming-source
design; reference ingest loop src/routes/stocks.js:137-142 is the
batch shape this streams).

The format keeps no log code of its own: the source, the batch reader
and the sink read the commit log only through ``TxnLogTable``
(operators/txnlog.py), built without a SparkSession. They get the same
checkpoint-first replay, commit-timestamp clamp and protocol gate as
the library's read and write paths.

Scale shape: ``partitions()`` is driver-side METADATA (replaying KB
of JSON per commit — never data); each added file becomes one input
partition, and ``read()`` executes on executors, yielding Arrow
record batches straight from the parquet footer (no Python row
loop). A 10-file commit is a 10-partition micro-batch regardless of
table size.

Change semantics: by default a REMOVE of a data file inside the
consumed range raises (the stream is an append-only contract, same
default as Delta's readStream); ``.option("ignoreChanges", "true")``
relaxes it to adds-only delivery (rewritten files re-emit their rows
— Delta's documented ignoreChanges caveat applies verbatim).
Merge-on-read deletion vectors are metadata files and are never
emitted as rows; a deletion-vector ADD (a deferred delete) raises in
default mode like a remove does, since it drops rows without any
remove action — Delta's readStream fails on DV deletes the same way.

Cited reference behavior: the reference tails its stocks feed by
polling the newest rows (src/routes/stocks.js:42-47); here the table
itself is the replayable feed.
"""

from __future__ import annotations

import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)


def _arrow_field_spark_type(field):
    """Arrow field -> pyspark DataType, built from the type classes:
    ``_parse_datatype_string`` needs an active SparkContext, and the
    Python worker processes that plan format reads and commit sink
    batches have none."""
    import pyspark.sql.types as T

    t = str(field.type)
    simple = {
        "bool": T.BooleanType(),
        "int8": T.ByteType(),
        "int16": T.ShortType(),
        "int32": T.IntegerType(),
        "int64": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "large_string": T.StringType(),
        "binary": T.BinaryType(),
        "large_binary": T.BinaryType(),
        "date32[day]": T.DateType(),
    }
    if t in simple:
        return simple[t]
    if t.startswith("timestamp["):
        return T.TimestampType()
    if t.startswith("decimal128(") or t.startswith("decimal("):
        return T.DecimalType(field.type.precision, field.type.scale)
    if t.startswith("list<") or t.startswith("large_list<"):
        return T.ArrayType(_arrow_field_spark_type(field.type.value_field))
    raise ValueError(
        f"txnlog cannot map arrow type {t!r} (column {field.name!r}); "
        "pass an explicit .schema(...)"
    )


def _log(path: str):
    """The table at ``path`` as a commit-log reader: a ``TxnLogTable``
    with no session and an empty base schema, so an empty
    ``_schema_at`` means no schema was ever logged. The constructor
    does no I/O, and only its metadata-plane methods are called. The
    import is deferred so executor processes that only read files
    never load the operators package."""
    import pyspark.sql.types as T

    from ..operators.txnlog import TxnLogTable

    return TxnLogTable(None, path, T.StructType([]), [])


def _abs(root: str, p: str) -> str:
    return p if os.path.isabs(p) else os.path.join(root, p)


def _as_of_version(t, options: dict) -> int | None:
    """The version a ``versionAsOf``/``timestampAsOf`` read pins, or
    None for the newest. ``timestampAsOf`` takes epoch seconds or an
    ISO timestamp and resolves like ``TxnLogTable.read_asof``."""
    import datetime as _dt

    version = options.get("versionasof")
    ts_opt = options.get("timestampasof")
    if ts_opt is None:
        return int(version) if version is not None else None
    if version is not None:
        raise ValueError(
            "txnlog batch read: pass versionAsOf OR timestampAsOf, not both"
        )
    try:
        ts = float(ts_opt)
    except ValueError:
        ts = _dt.datetime.fromisoformat(ts_opt).timestamp()
    return t.version_at(ts)


def _table_schema(t, version: int | None = None):
    """The table's schema at ``version``: the logged one (already in
    LOGICAL names, the only correct source once columns were renamed
    or dropped), else the schema of a live data file, else None for a
    table with neither."""
    import pyspark.sql.types as T

    logged = t._schema_at(version)
    if logged.fields:
        return logged
    sample = next(
        (p for p, m in t._live(version).items() if not m.get("dv")), None
    )
    if sample is None:
        return None
    import pyarrow.parquet as pq

    return T.StructType(
        [
            T.StructField(f.name, _arrow_field_spark_type(f))
            for f in pq.read_schema(_abs(t.path, sample))
        ]
    )


def _added_data_files(
    t, after: int, upto: int, ignore_changes: bool
) -> list[str]:
    """Absolute paths of data files added in (after, upto]."""
    out: list[str] = []
    for v in range(after + 1, upto + 1):
        entry = t._entry(v)
        for a in entry["actions"]:
            if (
                "remove" in a
                and not ignore_changes
                and not a["remove"]["path"].startswith("_")
            ):
                raise RuntimeError(
                    f"txnlog stream: version {v} "
                    f"({entry.get('op', '?')}) removed data file "
                    f"{a['remove']['path']!r}; the stream is an "
                    "append-only contract — set "
                    "option('ignoreChanges', 'true') to consume "
                    "adds-only (rewritten rows re-emit)"
                )
            add = a.get("add")
            if add and add.get("dv") and not ignore_changes:
                # a deletion-vector ADD is a deferred delete
                # (delete_keys_deferred commits are add-only: the
                # DV grows, no data file is removed) — rows vanish
                # from the table without any remove action, so the
                # append-only contract must raise here too, exactly
                # as Delta's readStream fails on DV-based deletes.
                # (A DV SHRINK — revive — also rewrites/purges a
                # data file in the same commit, so it already
                # raises via the remove check above.)
                raise RuntimeError(
                    f"txnlog stream: version {v} "
                    f"({entry.get('op', '?')}) added deletion "
                    f"vector {add['path']!r} (a deferred delete); "
                    "the stream is an append-only contract — set "
                    "option('ignoreChanges', 'true') to consume "
                    "adds-only (deferred-deleted rows are NOT "
                    "retracted)"
                )
            if add and not add.get("dv") and add.get("rows"):
                out.append(_abs(t.path, add["path"]))
    return out


def _read_file(path: str):
    """One data file as an Arrow table. Spark's default parquet
    timestamp encoding (INT96) reads back through pyarrow as
    timestamp[ns], which the engine's Arrow bridge rejects
    (UNSUPPORTED_ARROWTYPE). Spark timestamps are microsecond
    precision, so the ns->us cast is exact for any Spark-written file
    (and matches Spark's own read semantics for genuinely-ns data)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    fields = []
    changed = False
    for f in table.schema:
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            fields.append(pa.field(f.name, pa.timestamp("us", f.type.tz)))
            changed = True
        else:
            fields.append(f)
    return table.cast(pa.schema(fields)) if changed else table


class _FilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


def _declared_arrow_types(schema) -> dict:
    """{logical field name: declared Arrow type} for null-filling
    fields absent from old-era files (computed driver-side, pickled to
    executors with the reader)."""
    from pyspark.sql.pandas.types import to_arrow_type

    return {f.name: to_arrow_type(f.dataType) for f in schema.fields}


def _project_file_table(table, want, logical_to_phys, arrow_types):
    """Project ONE data file's raw Arrow table (immutable PHYSICAL
    column names on disk) to the logical column list ``want`` — what
    ``TxnLogTable._scan`` (operators/txnlog.py) does through a
    Spark read schema, done here on Arrow inside the executor: resolve
    each logical name to its PHYSICAL
    name and select by that, so a RETIRED physical column whose name
    happens to equal a re-added logical column can never resurrect the
    dropped era's bytes; null-fill fields absent from files written
    before an add_columns (with the declared Arrow type, matching the
    library path's spark.read.schema null-fill); rename to logical.
    Blind name-based rename+subset — the previous implementation —
    fails BOTH ways: it resurrects dropped bytes on drop+re-add and
    raises DATA_SOURCE_RETURN_SCHEMA_MISMATCH on pre-evolution files
    missing a later-added column."""
    import pyarrow as pa

    cols, fields = [], []
    for lname in want:
        pname = logical_to_phys.get(lname, lname)
        if pname in table.column_names:
            col = table[pname]
            cols.append(col)
            fields.append(pa.field(lname, col.type))
        else:
            t = arrow_types[lname]
            cols.append(pa.nulls(table.num_rows, type=t))
            fields.append(pa.field(lname, t))
    return pa.table(cols, schema=pa.schema(fields))


class TxnLogStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema=None) -> None:
        # declared (LOGICAL) column set: after a drop_column the data
        # files still carry the retired physical column, which must be
        # projected away before the batch crosses the Arrow bridge
        self._want = (
            [f.name for f in schema.fields] if schema is not None else None
        )
        self.path = options["path"]
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        start = options.get("startingversion")
        self.starting = int(start) if start is not None else None
        # ADMISSION CONTROL (Delta's maxFilesPerTrigger): bound how
        # many data files one micro-batch may ingest. The Python data
        # source API has no SupportsAdmissionControl (latestOffset
        # takes no start), so the bound is applied relative to the
        # engine position this reader has OBSERVED — initialOffset on
        # a fresh stream, then every partitions()/commit() call. On a
        # fresh stream every batch is bounded; after a checkpoint
        # restart the FIRST planned batch is unbounded (the position
        # is only revealed to us when the engine plans it) — the same
        # best-effort caveat Delta documents for trigger-availableNow
        # restarts.
        mft = options.get("maxfilespertrigger")
        self.max_files = int(mft) if mft is not None else 0
        self._pos: int | None = None
        # COLUMN MAPPING: data files carry immutable PHYSICAL names;
        # the stream's declared schema is LOGICAL. The physical->
        # logical rename is resolved ONCE at stream start and applied
        # per batch (pinned like the stream's schema itself) — correct
        # across any number of renames mid-stream, because a rename
        # never changes physical names and never adds files.
        t = _log(self.path)
        t._check_protocol(None)
        self._logical_to_phys = dict(t._mapping_at(None))
        self._arrow_types = (
            _declared_arrow_types(schema) if schema is not None else {}
        )

    def initialOffset(self) -> dict:
        if self.starting is not None:
            # startingVersion v ⇒ the first batch INCLUDES version v
            self._pos = self.starting - 1
            return {"version": self.starting - 1}
        # default: consume the table from the beginning (version 0's
        # init rides the first batch), matching Delta's default of
        # processing the full existing snapshot first
        self._pos = -1
        return {"version": -1}

    def latestOffset(self) -> dict:
        t = _log(self.path)
        vs = t.versions()
        newest = vs[-1] if vs else -1
        if self.max_files <= 0 or self._pos is None or newest <= self._pos:
            return {"version": newest}
        # advance version-at-a-time while the batch stays within the
        # file budget; always include at least one version so the
        # stream can never stall on a single over-budget commit
        # (Delta's maxFilesPerTrigger admits an oversized single
        # commit the same way)
        end = self._pos
        taken = 0
        for v in vs:
            if v <= self._pos:
                continue
            n = len(_added_data_files(t, end, v, True))
            if taken and taken + n > self.max_files:
                break
            taken += n
            end = v
            if taken >= self.max_files:
                break
        return {"version": end}

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        self._pos = int(end["version"])
        files = _added_data_files(
            _log(self.path),
            int(start["version"]),
            int(end["version"]),
            self.ignore_changes,
        )
        return [_FilePartition(p) for p in files]

    def read(self, partition: _FilePartition) -> Iterator:
        table = _read_file(partition.path)
        if self._want is not None:
            table = _project_file_table(
                table, self._want, self._logical_to_phys,
                self._arrow_types,
            )
        yield from table.to_batches()

    def commit(self, end: dict) -> None:
        # offsets live in the engine's checkpoint; remember the
        # position so the admission-control bound applies from here
        v = int(end["version"])
        if self._pos is None or v > self._pos:
            self._pos = v


class TxnLogBatchReader(DataSourceReader):
    """``spark.read.format("txnlog")`` — the table as a BATCH source
    (Delta's ``spark.read.format("delta")`` parity). The log is
    replayed on the driver through :class:`TxnLogTable`; executors get
    only plain file lists, maps and row-id bases. Options:

    - ``path`` (required)
    - ``versionAsOf`` — read the snapshot at that commit version
    - ``timestampAsOf`` — epoch seconds (float) or an ISO timestamp;
      resolves over the monotonically adjusted commit sequence,
      exactly like ``TxnLogTable.read_asof``
    - ``rowIds`` — ``true`` appends the stable ``_row_id`` column on a
      row-tracked table (TxnLogTable.read_with_row_ids parity, batch
      reads only): files rewritten by a preserving compaction carry
      the id physically and are trusted as-is; fresh files compute
      base + in-file position from the log's lazy assignment, shipped
      to executors as a metadata-sized {path: base} dict

    Each live data file is one input partition read executor-side as
    Arrow batches; merge-on-read deletion vectors are subtracted
    per-partition (the DV key set is log-metadata-sized by design and
    ships with the reader), and column mapping resolves physical names
    to the requested version's logical schema. Composite-key tables
    with live deletion vectors are refused (the per-partition Arrow
    ``is_in`` subtraction needs a single key column) — read those
    through ``TxnLogTable.read``, which applies the DV as one
    broadcast anti-join. File-skipping predicate pushdown also lives
    on the ``TxnLogTable`` read paths; this reader is the plain
    full-snapshot scan."""

    def __init__(self, options: dict, schema) -> None:
        self.path = options["path"]
        t = _log(self.path)
        self.version = _as_of_version(t, options)
        # _split_live runs the reader-protocol gate first
        data, dvs = t._split_live(self.version)
        state = t._cmap_at(self.version)
        self._logical_to_phys = dict(state.get("map") or {})
        self._rowids = str(
            options.get("rowids", "false")
        ).lower() in ("true", "1")
        if self._rowids and not state.get("row_tracking"):
            raise RuntimeError(
                "txnlog batch read: rowIds requested but row tracking "
                "is not enabled on this table (at the requested "
                "version)"
            )
        declared = [f.name for f in schema.fields]
        if self._rowids and "_row_id" not in declared:
            raise ValueError(
                "txnlog batch read: rowIds=true but the effective read "
                "schema does not declare `_row_id` bigint — the reader "
                "only appends the column the schema announces"
            )
        # strip _row_id from the physical projection ONLY when this
        # reader synthesizes it: the name is reserved solely on
        # row-tracked tables (enable_row_tracking refuses a clashing
        # user column), so on any other table `_row_id` is an ordinary
        # user column that must project through untouched
        self._want = [
            n for n in declared if not (self._rowids and n == "_row_id")
        ]
        self._arrow_types = _declared_arrow_types(schema)
        self._files = [_abs(self.path, p) for p in data]
        self._rowid_bases: dict[str, int] = {}
        if self._rowids:
            rel_bases = t._row_id_bases(self.version)[0]
            self._rowid_bases = {
                _abs(self.path, p): b for p, b in rel_bases.items()
            }
        self._dv_col = None
        self._dv_keys: frozenset = frozenset()
        if dvs:
            import pyarrow.parquet as pq

            tabs = [pq.read_table(_abs(self.path, p)) for p in dvs]
            cols = {tuple(tab.column_names) for tab in tabs}
            names = next(iter(cols))
            if len(cols) != 1 or len(names) != 1:
                raise RuntimeError(
                    "txnlog batch read: table has live deletion "
                    "vectors on a composite key; read it through "
                    "TxnLogTable.read (one broadcast anti-join)"
                )
            self._dv_col = names[0]
            self._dv_keys = frozenset(
                k for tab in tabs for k in tab.column(0).to_pylist()
            )

    def partitions(self) -> Sequence[InputPartition]:
        return [_FilePartition(p) for p in self._files]

    def read(self, partition: _FilePartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc

        table = _read_file(partition.path)
        # Row tracking: grab the physical id column (preserving
        # compactions materialize it) BEFORE the schema projection
        # drops it; fresh files derive ids from base + file position.
        rid_col = None
        if self._rowids:
            if "_row_id" in table.column_names:
                rid_col = table["_row_id"].cast(pa.int64())
            else:
                base = self._rowid_bases.get(partition.path)
                if base is None:
                    raise RuntimeError(
                        "txnlog batch read: no row-id base for "
                        f"{partition.path!r} (log and file set out "
                        "of sync)"
                    )
                rid_col = pa.chunked_array(
                    [pa.array(range(base, base + len(table)), pa.int64())]
                )
        # Physical-schema projection BEFORE the DV subtraction: the DV
        # sidecars are written with LOGICAL key names (_dv_schema,
        # operators/txnlog.py), so the filter runs on the projected
        # table.
        table = _project_file_table(
            table, self._want, self._logical_to_phys, self._arrow_types
        )
        if rid_col is not None:
            table = table.append_column("_row_id", rid_col)
        if self._dv_col is not None and self._dv_keys:
            col = table[self._dv_col]
            mask = pc.invert(
                pc.is_in(
                    col,
                    value_set=pa.array(
                        list(self._dv_keys), type=col.type
                    ),
                )
            )
            table = table.filter(mask)
        yield from table.to_batches()


class _StagedFile(WriterCommitMessage):
    """One executor-written parquet file awaiting the driver-side
    commit: its finished ``{"add": ...}`` log action, or None when the
    task had no rows."""

    def __init__(self, action: dict | None):
        self.action = action


class TxnLogStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("txnlog")`` — the table as an EXACTLY-ONCE
    streaming sink, the write-side twin of the streaming source.

    Protocol per micro-batch (Delta's transactional sink shape):
    executors stream their Arrow batches straight into immutable
    parquet files under the table's ``data/`` (one file per task, in
    its own ``data/sink-*`` directory) and build each file's
    add-action there from the in-memory Arrow table — no second read —
    through the same builder as ``TxnLogTable``'s batch writes
    (operators/txnlog.py ``_arrow_stat_row`` + ``_add_actions``), so
    the same rows get the same stats and bloom mask whichever path
    wrote them. The DRIVER lands every staged file plus a
    ``txn {appId, batchId}`` marker in ONE CAS commit. A replayed
    micro-batch (sink retry after a crash between write and
    checkpoint) finds its marker and drops its staged files — the
    same SetTransaction idempotence ``append_once`` gives foreachBatch
    ingest, here native to the writeStream API. CAS losses against
    disjoint commits rebase the same staged adds (blind-append rules);
    a table-shape change (constraint/metadata/restore) mid-stream
    fails the query loudly.

    Contract notes: ``option("appId", ...)`` names the idempotence
    stream (default ``txnlog-sink``); ``option("keys", "a,b")`` names
    the table's key columns, which head the stat columns (the table
    rule: keys, then prunable columns up to ``STATS_MAX_COLS``) and
    whose first column gets the bloom mask, as on the table itself; a
    task above ``DRIVER_STATS_MAX_BLOOM_ROWS`` rows writes no mask.
    Sinking into a table with active CHECK constraints, GENERATED
    columns or column mapping is refused: validating or generating
    those needs Spark expressions, which a pyarrow write task does not
    have.
    """

    def __init__(self, options: dict, schema) -> None:
        from ..operators.txnlog import _bloom_key, _stat_columns

        self.path = options["path"]
        self.app_id = options.get("appid", "txnlog-sink")
        keys = [k for k in options.get("keys", "").split(",") if k]
        names = schema.fieldNames()
        if not set(keys) <= set(names):
            raise ValueError(f"txnlog sink: keys {keys} not all in {names}")
        self.stat_cols = _stat_columns(schema, keys)
        self.bloom_col = _bloom_key(schema, keys)
        self.schema = schema

    # -- executor side ----------------------------------------------------
    def write(self, iterator) -> _StagedFile:
        import uuid as _uuid

        import pyarrow as pa

        from ..operators import txnlog
        from .catalog import write_arrow_file

        batches = list(iterator)
        if not sum(b.num_rows for b in batches):
            return _StagedFile(None)
        table = pa.Table.from_batches(batches)
        rel_dir = f"data/sink-{_uuid.uuid4().hex[:12]}"
        rel = f"{rel_dir}/part-{_uuid.uuid4().hex[:8]}.parquet"
        os.makedirs(os.path.join(self.path, rel_dir))
        write_arrow_file(table, os.path.join(self.path, rel), self.schema)
        bloom = (
            self.bloom_col
            if table.num_rows <= txnlog.DRIVER_STATS_MAX_BLOOM_ROWS
            else None
        )
        row = txnlog._arrow_stat_row(table, self.stat_cols, bloom)
        (action,) = txnlog._add_actions(
            self.path, rel_dir, [(rel, row)], self.stat_cols
        )
        return _StagedFile(action)

    # -- driver side --------------------------------------------------------
    def _table(self):
        """The ONE ``TxnLogTable`` a micro-batch commit works on: it
        runs the protocol/mapping gates, resolves the schema, and
        commits, so the log is replayed once per batch (the snapshot
        cache carries it through ``constraints``, ``last_txn_version``
        and the checkpoint ``_commit`` may write). Driver-side metadata
        work only — no SparkSession is needed, and none is passed."""
        t = _log(self.path)
        # writer protocol 3 = row tracking, which the sink satisfies
        # by construction: its commits are pure appends whose add
        # actions carry exact rowcounts, which is all the lazy row-id
        # assignment needs — streaming ingest into a row-tracked table
        # gives every record a stable id with zero coordination
        t._check_protocol(None, write=True)
        # A pyarrow write task can neither rename columns to their
        # physical names, nor compute and validate GENERATED columns
        # (_conform and the write-time aggregate need Spark
        # expressions), so those tables are refused loudly, as Delta
        # restricts streaming writes on column-mapped tables; batch
        # writes through TxnLogTable handle both. CHECK constraints are
        # refused per attempt in ``commit``.
        state = t._cmap_at(None)
        for what, on in (
            ("a column-mapped table", state.get("map")),
            ("a table with GENERATED columns", state.get("gen")),
        ):
            if on:
                raise RuntimeError(
                    f"txnlog sink cannot write to {what}; ingest via "
                    "foreachBatch + append_once instead"
                )
        # The TABLE's authoritative schema, never the stream's (see
        # ``_table_schema``); only a virgin table with no data takes
        # the stream's, which then legitimately DEFINES the table.
        resolved = _table_schema(t) or self.schema
        # conform-or-reject: the stream must carry exactly the table's
        # columns with the table's types (order and nullability are
        # immaterial — files are read by name under an explicit
        # schema). A retyped/extra/missing column would write data
        # files that mismatch the table's effective schema, so it
        # fails the query loudly instead.
        want = {
            f.name: f.dataType.simpleString() for f in resolved.fields
        }
        got = {
            f.name: f.dataType.simpleString() for f in self.schema.fields
        }
        if want != got:
            raise RuntimeError(
                "txnlog sink: stream schema does not conform to the "
                f"table's schema at {self.path!r}; table has {want}, "
                f"stream has {got} — align the stream's columns/types "
                "or evolve the table first (add_columns)"
            )
        # the RESOLVED schema becomes the base schema, so a commit
        # crossing a CHECKPOINT_EVERY boundary persists the table's own
        # schema into the checkpoint — never the empty reader schema
        # or the stream's, either of which would silently rewrite the
        # table's effective schema for every later reader
        t.schema = resolved
        return t

    def commit(self, messages, batchId: int) -> None:
        from ..operators.txnlog import CommitConflict

        adds = _adds(messages)
        try:
            t = self._table()  # raises on stream/table schema mismatch
        except Exception:
            self._drop(adds)
            raise
        for _ in range(11):
            base = t.current_version()
            if t.constraints(base):
                self._drop(adds)
                raise RuntimeError(
                    "txnlog sink cannot write to a table with active "
                    "CHECK constraints (the sink path bypasses "
                    "write-time validation); drop the constraint or "
                    "ingest via foreachBatch + append_once"
                )
            last = t.last_txn_version(self.app_id)
            if last is not None and last >= batchId:
                self._drop(adds)  # replayed batch: exactly-once no-op
                return
            actions = adds + [
                {"txn": {"app": self.app_id, "version": batchId}}
            ]
            try:
                t._commit("append", actions, base, staged_adds=[])
                return
            except CommitConflict:
                new_base = t.current_version()
                # pure adds: safe over any intervening commit except a
                # table-shape change or an overlapping DV (unknown key
                # bounds here, so ANY deletion-vector add blocks)
                if not t._rebase_safe(
                    base, new_base, lambda a: bool(a.get("add", {}).get("dv"))
                ):
                    self._drop(adds)
                    raise
        self._drop(adds)
        raise CommitConflict(
            f"txnlog sink gave up after 10 rebases (batch {batchId})"
        )

    def _drop(self, adds: list[dict]) -> None:
        _log(self.path)._drop_staged(adds)

    def abort(self, messages, batchId: int) -> None:
        self._drop(_adds(messages))


def _adds(messages) -> list[dict]:
    """The add-actions of the commit messages that staged a file."""
    return [
        m.action for m in messages if isinstance(m, _StagedFile) and m.action
    ]


class TxnLogStreamDataSource(DataSource):
    """``format("txnlog")`` — register with :func:`register_txnlog`
    before a query that reads or writes it."""

    @classmethod
    def name(cls) -> str:
        return "txnlog"

    def schema(self) -> str:
        t = _log(self.options["path"])
        st = _table_schema(t, _as_of_version(t, self.options))
        if st is None:
            raise ValueError(
                f"txnlog table at {self.options['path']!r} has no data "
                "files; pass an explicit .schema(...)"
            )
        rowids = str(
            self.options.get("rowids", "false")
        ).lower() in ("true", "1")
        return ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in st.fields
        ) + (", `_row_id` bigint" if rowids else "")

    def reader(self, schema) -> TxnLogBatchReader:
        return TxnLogBatchReader(self.options, schema)

    def streamReader(self, schema) -> TxnLogStreamReader:
        return TxnLogStreamReader(self.options, schema)

    def streamWriter(self, schema, overwrite: bool) -> TxnLogStreamWriter:
        if overwrite:
            raise ValueError(
                "txnlog sink is append-only (exactly-once transactional "
                "appends); complete/overwrite output modes are not "
                "supported"
            )
        return TxnLogStreamWriter(self.options, schema)


def register_txnlog(spark) -> None:
    """Register ``format("txnlog")`` with ``spark`` and make ``spark``
    the calling thread's active session.

    A stream writer looks a Python data source up in the JVM thread's
    *active* session, not in the session it was built from. Only a few
    calls (``createDataFrame`` among them) set it, so a query started
    on a thread that has not made one — a fresh worker of a pool
    running queries side by side — fails with ``DATA_SOURCE_NOT_FOUND``
    even though the source is registered."""
    from pyspark.sql import SparkSession

    spark.dataSource.register(TxnLogStreamDataSource)
    SparkSession._get_j_spark_session_class(spark._jvm).setActiveSession(
        spark._jsparkSession
    )
