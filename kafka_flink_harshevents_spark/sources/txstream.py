"""The transactional table (sources/txlog.py) as a registered Spark
DataSource — ``format("txlog")`` for BOTH execution modes:

- ``spark.readStream`` — the Delta-as-a-stream-source shape: every
  committed append becomes a micro-batch, offsets are commit versions,
  and checkpoint recovery replays exactly the committed version range
  (the log is immutable, so replay is deterministic by construction);
- ``spark.read`` — snapshot / time-travel / batch change-feed reads
  with Catalyst filter pushdown mapped onto the commit log's min/max +
  bloom file-skipping (:class:`TxLogBatchReader`).

    spark.dataSource.register(TxLogStreamSource)
    (spark.readStream.format("txlog")
         .option("tabledir", path)
         .load())
    (spark.read.format("txlog")
         .option("tabledir", path)
         .load()
         .filter("k = 42"))   # skips files via pushed filters

This closes the loop the reference leaves implicit: its Mongo sink is a
terminal store (kafkaConsumer.js:304-318), while a lakehouse table is
ALSO a source — downstream jobs (IVM consumers, replication, training
ingest) tail the same ACID table the ingest pipeline writes, with
exactly-once progress tracking for free from the checkpoint.

Semantics per commit op (mirrors Delta's streaming-source contract):
- ``append``  → the added files' rows are served, stamped with the
  commit version (``_commit_version``);
- ``compact`` → skipped entirely (data-preserving rewrite, no change);
- add-only commits (no removed files, no deletion-vector delta, no
  ``dv_full`` state replacement — e.g. an insert-only ``merge_into``)
  → served as appends whatever the op name (Delta's remove-based
  rule); restores never qualify — their DV-state replacement can
  resurrect/retract rows even with an empty map;
- ``merge`` / ``delete`` → refused by default (a rewrite is not an
  append-only change); ``ignorechanges=true`` serves the rewritten
  files' rows — which include carried-over unchanged rows of the
  touched buckets/files, so downstream must dedupe on the business key
  (Delta's documented ignoreChanges caveat, reproduced deliberately).

Scale shape: offsets are a single integer; ``partitions(start, end)``
emits ONE InputPartition per staged file, so the actual parquet reads
run on executors (pyarrow over the shared filesystem — the same files
a batch read would open), never through the driver. A micro-batch's
parallelism is the number of newly committed files; the driver-side
work per trigger is one log listing. Vacuum bounds replayability: a
checkpoint older than the retained snapshots cannot restart (same
trade Delta makes).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql.types import LongType, StructField, StructType

from kafka_flink_harshevents_spark.sources.txlog import (
    _add_entry,
    _bloom_build,
    _file_may_match,
    _file_may_match_eq,
    _list_versions,
    _read_record,
    _replay_log,
    _version_path,
    bucket_batch,
)

try:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        DataSourceReader,
        DataSourceStreamReader,
        InputPartition,
        WriterCommitMessage,
    )

    _HAS_PYDS = True
except ImportError:  # pragma: no cover - older pyspark
    DataSource = object  # type: ignore[assignment,misc]
    DataSourceArrowWriter = object  # type: ignore[assignment,misc]
    DataSourceReader = object  # type: ignore[assignment,misc]
    DataSourceStreamReader = object  # type: ignore[assignment,misc]
    InputPartition = object  # type: ignore[assignment,misc]
    WriterCommitMessage = object  # type: ignore[assignment,misc]
    _HAS_PYDS = False

try:  # typed pushdown filters: pyspark >= 4.1 only
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        LessThan,
        LessThanOrEqual,
    )

    _HAS_PUSHDOWN = True
except ImportError:  # pragma: no cover - older pyspark
    _HAS_PUSHDOWN = False


VERSION_COL = "_commit_version"
CHANGE_COL = "_change_type"
_CTYPE_FROM_FILE = "@file"  # partition sentinel: read ctype column


def drain_available(
    start_query, max_runs: int = 1000, timeout_per_run: float = 300.0
) -> tuple[int, int]:
    """Fully drain a PACED AvailableNow backlog — the API form of the
    engine caveat ``tests/test_txlog.py::
    test_available_now_drains_one_capped_batch_per_run`` pins: pyspark
    4.1's Python-DataSource stream path implements neither
    ``SupportsTriggerAvailableNow`` nor ``SupportsAdmissionControl``,
    so ONE ``trigger(availableNow=True)`` run of a txlog stream with
    ``maxfilespertrigger``/``maxbytespertrigger`` drains exactly one
    capped batch, not the whole backlog. This helper re-runs the query
    until a run admits zero input rows (the committed offset floor has
    stopped advancing — each run resumes from the checkpoint, so the
    loop is exactly-once end to end).

    ``start_query`` is a zero-arg callable returning a freshly STARTED
    ``StreamingQuery`` over the same checkpoint (build reader + sink +
    ``trigger(availableNow=True)`` inside it). Returns
    ``(runs_that_served_rows, total_input_rows)``. Uncapped streams
    and JVM sources (e.g. ``auto_ingest``'s file stream, which
    supports AvailableNow natively) drain in one run and simply exit
    the loop after their second, empty pass."""
    runs = 0
    total = 0
    for _ in range(max_runs):
        q = start_query()
        finished = q.awaitTermination(timeout_per_run)
        if not finished:
            # a run that is STILL ACTIVE at the timeout is not a
            # drained backlog — zero observed progress here would
            # otherwise return 'drained' while the query keeps
            # running, and the next start_query() would overlap it on
            # the same checkpoint. Stop it and surface the stall.
            q.stop()
            raise TimeoutError(
                f"drain_available: run {runs + 1} did not terminate "
                f"within {timeout_per_run}s — the query was stopped; "
                "raise timeout_per_run or investigate the sink"
            )
        served = sum(
            int(p["numInputRows"]) for p in (q.recentProgress or [])
        )
        if served == 0:
            return runs, total
        runs += 1
        total += served
    raise RuntimeError(
        f"drain_available: backlog still advancing after {max_runs} "
        "runs — raise max_runs or the per-trigger cap"
    )


def _partition_batches(partition: "_FilePartition", schema: StructType):
    """Executor-side file → Arrow RecordBatches in the declared output
    schema — the shared read kernel of BOTH readers. Rows never pass
    through the Python interpreter: deletion vectors apply as ONE
    vectorized boolean ``filter``, pre-evolution files NULL-fill the
    added columns as typed Arrow arrays, ``_change_type`` /
    ``_commit_version`` append as constant (or file-read) Arrow
    columns, and the assembled table is CAST to the exact Arrow schema
    Spark expects (``to_arrow_schema``), so type drift between the
    parquet footer and the declared schema (e.g. timestamp units)
    resolves inside Arrow."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    if partition is None:  # zero-partition plan (everything skipped
        return iter(())  # or an empty change-feed range)
    if isinstance(partition, _FileGroup):
        import itertools

        return itertools.chain.from_iterable(
            _partition_batches(p, schema) for p in partition.parts
        )
    target = to_arrow_schema(schema)
    table = pq.read_table(partition.path)
    if partition.dv:  # merge-on-read / cloned deletion vectors
        mask = np.ones(table.num_rows, dtype=bool)
        mask[list(partition.dv)] = False
        table = table.filter(pa.array(mask))
    n = table.num_rows
    names = set(table.column_names)
    # column mapping (rename_column): files carry PHYSICAL names —
    # resolve each declared logical column through the mapping
    mapping = dict(getattr(partition, "mapping", ()) or ())
    arrays = []
    for field in target:  # target order == declared schema order
        if field.name == VERSION_COL:
            arrays.append(
                pa.array(np.full(n, partition.version, dtype=np.int64))
            )
        elif field.name == CHANGE_COL:
            if partition.ctype == _CTYPE_FROM_FILE:
                arrays.append(table.column(CHANGE_COL))
            else:
                arrays.append(
                    pa.nulls(n, pa.string()).fill_null(partition.ctype)
                )
        elif mapping.get(field.name, field.name) in names:
            arrays.append(table.column(mapping.get(field.name, field.name)))
        else:  # pre-evolution file: NULL-fill the added column
            arrays.append(pa.nulls(n, field.type))
    out = pa.table(arrays, names=[f.name for f in target]).cast(target)
    return iter(out.to_batches())


_SCHEMA_MEMO: dict[tuple, StructType] = {}


def _table_schema(table_dir: str, cdf: bool = False) -> StructType:
    """Latest recorded table schema (log-authoritative), minus the
    internal ``_bucket`` layout column, plus the commit-version stamp
    (and, in change-feed mode, the ``_change_type`` column).
    Checkpoint-aware via ``_replay_log`` — stream planning calls this,
    so it must not walk a 10⁵-commit log. Memoized on
    (table_dir, latest version, cdf): the log is append-only and a
    commit's schema record immutable, so the key can never serve a
    stale schema — repeated plans over the same snapshot (the reused
    planning worker) skip the replay entirely."""
    from pyspark.sql.types import StringType

    versions = _list_versions(table_dir)
    key = (table_dir, versions[-1] if versions else None, cdf)
    hit = _SCHEMA_MEMO.get(key)
    if hit is not None:
        return hit
    schema_json = (
        _replay_log(table_dir, versions[-1])[2] if versions else None
    )
    if schema_json is None:
        raise ValueError(
            f"{table_dir}: no schema recorded yet — commit at least one "
            "append before streaming the table"
        )
    base = StructType.fromJson(json.loads(schema_json))
    fields = [f for f in base.fields if f.name != "_bucket"]
    if cdf:
        fields = fields + [StructField(CHANGE_COL, StringType(), False)]
    out = StructType(
        fields + [StructField(VERSION_COL, LongType(), False)]
    )
    if len(_SCHEMA_MEMO) > 256:  # bound a long-lived planning worker
        _SCHEMA_MEMO.clear()
    _SCHEMA_MEMO[key] = out
    return out


def _column_mapping(table_dir: str) -> tuple[tuple[str, str], ...]:
    """(logical, physical) rename pairs from the LATEST table meta —
    spark-free (the meta replay is pure log reading), shipped into
    file partitions as a hashable tuple. Deliberately latest-only:
    the DataSource always declares the latest logical schema, so a
    version-scoped mapping would miss later renames and NULL-fill the
    column (the bug class pinned in
    test_datasource_time_travel_after_rename)."""
    from kafka_flink_harshevents_spark.sources.txlog import TxTable

    m = TxTable(None, table_dir).meta.get("column_mapping")
    return tuple(sorted((m or {}).items()))


def _newest_version_before(table_dir: str, ts: float) -> int:
    """Newest version whose skew-clamped commit timestamp is strictly
    before ``ts`` (0 when the table's history starts at or after it) —
    the exclusive-start offset for ``startingtimestamp`` reads."""
    best = 0
    cummax = float("-inf")
    for v in _list_versions(table_dir):
        rec_ts = _read_record(table_dir, v).get("ts")
        if rec_ts is not None:
            cummax = max(cummax, float(rec_ts))
        if cummax < ts:
            best = v
        else:
            break
    return best


class _FilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        version: int,
        columns: tuple[str, ...],
        ctype: str | None = None,
        dv: tuple[int, ...] = (),
        mapping: tuple[tuple[str, str], ...] = (),
        nbytes: int | None = None,
    ):
        self.path = path
        self.version = version
        self.columns = columns
        # None = plain table stream (no change column); "@file" = read
        # the materialized _change_type column; else a constant label
        self.ctype = ctype
        # physical row positions deleted by merge-on-read vectors —
        # applied by the BATCH reader only (the stream refuses/skips DV
        # commits, so its partitions always carry an empty tuple)
        self.dv = dv
        # column-mapping pairs (logical, physical) for renamed columns
        # — tuple-of-pairs so the partition stays picklable/hashable
        self.mapping = mapping
        # recorded physical size (add-entry `bytes` / `cdf_bytes`) —
        # consumed by _pack_partitions; None = unknown (legacy entry)
        self.nbytes = nbytes


class _FileGroup(InputPartition):
    """Several small files served by ONE task. A Python-DataSource
    partition costs a scheduled task + a worker round-trip each, so a
    commit-dense range of tiny files (the ACID gates, any CDF replay)
    was task-scheduling-bound. Files pack CONSECUTIVELY up to
    ``_PACK_MAX_BYTES`` (each charged ``_PACK_OPEN_COST``, Spark's own
    maxPartitionBytes/openCostInBytes packing rule), so row content
    AND global row order are identical to the unpacked plan — the
    group's files are read in exactly the order their one-per-file
    partitions held."""

    def __init__(self, parts: tuple):
        self.parts = parts


_PACK_MAX_BYTES = 128 * 1024 * 1024
_PACK_OPEN_COST = 4 * 1024 * 1024


def _pack_partitions(parts: list) -> list:
    """Pack per-file partitions into ≤128 MB groups (consecutive
    files only — preserves version grouping and global row order).
    Unknown sizes fall back to one driver-side stat; a missing file
    (foreign filesystem) packs alone."""
    groups: list[list] = []
    cur: list = []
    cum = 0
    for p in parts:
        sz = p.nbytes
        if sz is None:
            try:
                sz = os.path.getsize(p.path)
            except OSError:
                sz = _PACK_MAX_BYTES
        eff = int(sz) + _PACK_OPEN_COST
        if cur and cum + eff > _PACK_MAX_BYTES:
            groups.append(cur)
            cur, cum = [], 0
        cur.append(p)
        cum += eff
    if cur:
        groups.append(cur)
    return [
        g[0] if len(g) == 1 else _FileGroup(tuple(g)) for g in groups
    ]


def _is_add_only(rec: dict) -> bool:
    """Append-EQUIVALENT commit test, shared verbatim by the partition
    planner and its pacing twin (the two must never disagree on what a
    commit serves): a commit that only ADDS files — no removed files,
    no deletion-vector delta, and no ``dv_full`` STATE REPLACEMENT —
    cannot have changed or retracted an existing row, whatever its op
    name (Delta's remove-based rule). ``dv_full`` is a key-presence
    test, not truthiness: a restore always records the key and an
    EMPTY map still replaces the current DV state, which can resurrect
    rows — not an append."""
    return bool(rec.get("add")) and not (
        rec.get("remove") or rec.get("dv")
    ) and "dv_full" not in rec


def _change_partitions(
    table_dir: str,
    versions: list[int],
    columns: tuple[str, ...],
    ignore_changes: bool,
    read_change_feed: bool,
    mapping: tuple[tuple[str, str], ...] = (),
) -> list[_FilePartition]:
    """Commit versions → file partitions, one per data/change file —
    the single derivation both the STREAM reader (offset range,
    exclusive start) and the BATCH change-feed reader (inclusive
    version range, Delta's ``table_changes`` batch contract) plan
    from, so the two surfaces can never disagree on which commits
    yield which rows."""
    parts: list[_FilePartition] = []
    for v in versions:
        rec = _read_record(table_dir, v)
        op = rec.get("op")
        if any(e.get("pfill") for e in rec.get("add") or ()):
            raise ValueError(
                f"txlog stream over {table_dir}: version {v} adopts "
                "hive-partitioned files whose partition values live "
                "only in the commit log — the per-file Arrow reader "
                "has no log-side fill; TxTable.compact() the table "
                "and start the stream past the convert commit"
            )
        # append-EQUIVALENT commits (e.g. the insert-only merge_into
        # fast path) stream like any append instead of killing the
        # query; restores never qualify — they carry a dv_full state
        # replacement that can resurrect/retract rows (_is_add_only)
        add_only = _is_add_only(rec)
        if read_change_feed:
            if (op in ("append", "clone") or add_only) and rec.get("add"):
                # inserts are synthesized from the add files — no
                # materialization needed (Delta's rule). A clone's
                # initial state serves the same way, with its cloned
                # deletion vectors masked per file (unmasked reads
                # would resurrect rows the clone never showed).
                dvf = rec.get("dv_full") or {}
                for entry in rec["add"]:
                    parts.append(_FilePartition(
                        os.path.join(table_dir, entry["path"]),
                        v, columns, ctype="insert",
                        dv=tuple(sorted(dvf.get(entry["path"], ()))),
                        mapping=mapping,
                        nbytes=entry.get("bytes"),
                    ))
            elif rec.get("cdf_files"):
                cb = rec.get("cdf_bytes") or {}
                for p in rec["cdf_files"]:
                    parts.append(_FilePartition(
                        os.path.join(table_dir, p),
                        v, columns, ctype=_CTYPE_FROM_FILE,
                        mapping=mapping,
                        nbytes=cb.get(p),
                    ))
            elif op in ("create", "compact") or not (
                rec.get("add") or rec.get("remove") or rec.get("dv")
                or "dv_full" in rec
            ):
                # no data change (incl. metadata commits). A dv_full
                # key IS a data change even with no add/remove — a
                # dv-only restore resurrects/retracts rows by state
                # replacement and must not be silently skipped
                continue
            else:
                raise ValueError(
                    f"txlog change feed over {table_dir}: "
                    f"version {v} is a {str(op).upper()} with no "
                    "materialized change files — create the table "
                    "with cdf=True (or start past this version)"
                )
            continue
        if rec.get("dv") or "dv_full" in rec:
            # deletion-vector commits change data without touching
            # files — a non-append change (refuse), and with
            # ignorechanges there are no new files to serve (skip).
            # Key-presence for dv_full: an EMPTY map still REPLACES
            # the current DV state (a restore clearing vectors
            # resurrects rows), so it must refuse like any rewrite
            if not ignore_changes:
                raise ValueError(
                    f"txlog stream over {table_dir}: version "
                    f"{v} carries a deletion vector, not an append. "
                    "Set ignorechanges=true to continue (vector-only "
                    "commits are skipped; any ADDED files are served "
                    "and downstream must dedupe on the business key), "
                    "or start past this version."
                )
            if not rec.get("add"):
                continue
        if op in ("create", "compact") or not (
            rec.get("add") or rec.get("remove")
        ):
            continue  # no data change to stream (incl. metadata-only
            # commits like set_constraints)
        if op != "append" and not add_only and not ignore_changes:
            # merge / delete / restore / any future rewrite op that
            # REMOVES files: not an append-only change — refuse,
            # don't guess (add-only commits passed above)
            raise ValueError(
                f"txlog stream over {table_dir}: version {v} is a "
                f"{str(op).upper()} rewrite, not an append. Set "
                "ignorechanges=true to stream the rewritten rows "
                "(downstream must dedupe on the business key), or "
                "start past this version."
            )
        for entry in rec["add"]:
            parts.append(
                _FilePartition(
                    os.path.join(table_dir, entry["path"]),
                    v,
                    columns,
                    # a clone commit served under ignorechanges must
                    # mask its cloned vectors; plain appends have none
                    dv=tuple(sorted(
                        (rec.get("dv_full") or {}).get(entry["path"], ())
                    )),
                    mapping=mapping,
                    nbytes=entry.get("bytes"),
                )
            )
    # pack small consecutive files into shared tasks (identical rows
    # AND order — see _FileGroup); whole commits stay whole because
    # packing never reorders, so offset semantics are untouched
    return _pack_partitions(parts)


def _served_sizes(
    table_dir: str,
    rec: dict,
    read_change_feed: bool,
    size_cache: dict | None = None,
) -> tuple[int, int]:
    """(files, bytes) the stream will SERVE from this commit — the
    pacing twin of :func:`_change_partitions`, with the branch order
    mirrored exactly (append/clone add-files take precedence over
    cdf_files in change-feed mode, layout commits serve nothing), so
    ``maxfilespertrigger``/``maxbytespertrigger`` always budget the
    same file set the batch actually reads.

    Entries committed before the ``bytes``/``cdf_bytes`` fields
    existed are lazily ``os.path.getsize``-backfilled (one stat per
    legacy file, memoized in ``size_cache``), so a byte-only cap
    paces pre-upgrade history instead of admitting the whole backlog
    as 0 bytes."""

    def fsize(relpath: str, recorded) -> int:
        if recorded:
            return int(recorded)
        if size_cache is not None and relpath in size_cache:
            return size_cache[relpath]
        try:
            n = os.path.getsize(os.path.join(table_dir, relpath))
        except OSError:
            n = 0
        if size_cache is not None:
            size_cache[relpath] = n
        return n

    op = rec.get("op")
    if op in ("create", "compact"):
        return 0, 0
    # the SAME _is_add_only predicate the partition planner applies —
    # an add-only commit serves its add files in BOTH modes, whatever
    # the op name
    if read_change_feed and not (
        (op in ("append", "clone") or _is_add_only(rec))
        and rec.get("add")
    ):
        cdf = rec.get("cdf_files") or []
        cb = rec.get("cdf_bytes") or {}
        return len(cdf), sum(fsize(p, cb.get(p)) for p in cdf)
    add = rec.get("add") or []
    return len(add), sum(fsize(e["path"], e.get("bytes")) for e in add)


class TxLogStreamSource(DataSource):
    """``format("txlog")`` — one registered format serving BOTH
    ``spark.readStream`` (micro-batches of committed appends, offsets =
    commit versions) and ``spark.read`` (snapshot / time-travel / batch
    change-feed reads with log-level file skipping).

    Shared options: ``tabledir`` (required), ``readchangefeed``
    (default false — serve the row-level CHANGE FEED instead of the
    table: appends arrive as inserts, and merge/delete/update commits
    on a ``cdf=True`` table serve their materialized change files with
    ``_change_type`` per row, the Delta readChangeFeed contract).

    Stream-only: ``startingversion`` (default 0 = from the beginning),
    ``ignorechanges`` (default false), ``maxfilespertrigger`` /
    ``maxbytespertrigger`` (default 0 = unbounded; either or both;
    non-positive disables that cap) — cap the FILES / BYTES a
    micro-batch serves (byte sizes from the add-entries' recorded
    ``bytes`` and the record's ``cdf_bytes``; entries committed before
    those fields existed are lazily stat-backfilled, one memoized
    ``getsize`` per legacy file, so byte-only pacing bounds
    pre-upgrade history too), Delta's trigger-sizing knobs: a
    backfill over a long
    history proceeds in bounded batches instead of one giant first
    batch, and a burst of upstream commits never produces a runaway
    trigger. Whole commits only — a single commit larger than the cap
    still serves alone in one batch, so progress is always made. The
    Python DataSource API has no admission control, so the cap is
    reader-side pacing (monotonic offer floor; restart-safe because
    the engine restores the checkpointed batch into the reader before
    the first new offer — pinned in tests). One caveat: a
    ``Trigger.AvailableNow`` run captures a single offer at start, so
    it drains ONE capped batch per run — drain a backlog with
    processing-time triggers (or repeated AvailableNow runs, which
    step one capped batch each). This is ENGINE-imposed: pyspark 4.1's
    ``PythonMicroBatchStream`` implements neither
    ``SupportsTriggerAvailableNow`` nor ``SupportsAdmissionControl``,
    so no ``reportLatestOffset``/``readLimit`` path exists for a
    Python source and the AvailableNow wrapper freezes the first paced
    offer (contract pinned in
    ``test_available_now_drains_one_capped_batch_per_run`` — an
    engine upgrade changing the call pattern fails that test).

    Batch-only: ``version`` / ``timestamp`` (time travel, default
    latest); in change-feed mode ``startingversion``/``endingversion``
    (or ``startingtimestamp``/``endingtimestamp`` — start resolves to
    the first commit at/after the stamp, end to the newest at/before
    it) bound the INCLUSIVE commit range (Delta's batch CDF contract);
    ``skipreport`` (path) writes the file-skipping decision as JSON
    for observability/tests."""

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def schema(self) -> StructType:
        return _table_schema(
            self.options["tabledir"],
            cdf=str(self.options.get("readchangefeed", "false")).lower()
            == "true",
        )

    def streamReader(self, schema) -> "TxLogStreamReader":
        return TxLogStreamReader(self.options, schema)

    def reader(self, schema) -> "TxLogBatchReader":
        return TxLogBatchReader(self.options, schema)

    def writer(self, schema, overwrite: bool) -> "TxLogBatchWriter":
        return TxLogBatchWriter(self.options, schema, overwrite)


class TxLogStreamReader(DataSourceStreamReader):
    """Offset = ``{"version": v}`` meaning "every commit ≤ v has been
    served". The log is append-only and immutable, so any committed
    (start, end] range replays byte-identically after a crash."""

    def __init__(self, options: dict, schema: StructType) -> None:
        self.table_dir = options["tabledir"]
        self.start_version = int(options.get("startingversion", "0"))
        if options.get("startingtimestamp") is not None:
            # serve every commit whose (skew-clamped) stamp is >= ts:
            # the exclusive start offset is the newest version strictly
            # BEFORE it (0 = table predates nothing — serve all)
            self.start_version = _newest_version_before(
                self.table_dir, float(options["startingtimestamp"])
            )
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        self.read_change_feed = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )
        self.columns = tuple(
            f.name
            for f in schema.fields
            if f.name not in (VERSION_COL, CHANGE_COL)
        )
        self._schema = schema
        # non-positive = unbounded (so "-1 disables this cap" composes
        # with the other cap instead of degenerating to 1-commit batches)
        self.max_files = max(
            0, int(options.get("maxfilespertrigger", "0") or 0)
        )
        self.max_bytes = max(
            0, int(options.get("maxbytespertrigger", "0") or 0)
        )
        # newest version already offered to (or planned by) the engine
        # in THIS process — the pacing floor for maxfilespertrigger.
        # Offsets must only move forward, so every floor update is
        # monotonic. Restart safety: before the first latestOffset of
        # a restarted run, MicroBatchExecution restores the last
        # planned batch — partitions(start, end) for an uncommitted
        # batch, partitions(end, end) + commit(end) for a committed
        # one (observed and pinned in tests) — so the floor is at the
        # checkpointed offset before pacing ever engages; a paced
        # offer can never land BEHIND the checkpoint and re-serve
        # already-committed commits.
        self._floor: int | None = None
        self._known_latest: int | None = None  # incremental-tail cache
        self._size_cache: dict[str, int] = {}  # legacy-entry stat memo
        # column mapping frozen at stream start, matching the frozen
        # schema: renamed logicals resolve to the physical parquet
        # names (which never change), pre-rename logicals ARE physical
        self._mapping = _column_mapping(self.table_dir)

    def _raise_floor(self, v: int) -> None:
        if self._floor is None or v > self._floor:
            self._floor = v

    def _latest_version(self) -> int:
        """Current newest commit — ONE full directory listing on the
        first call, then O(new commits) existence probes per trigger:
        versions are contiguous by the commit protocol (the atomic
        link claims exactly V+1), so tailing a 10⁵-commit table costs
        a couple of stat calls per trigger, not a 10⁵-entry dirent
        scan (the listFrom optimization Delta's streaming source
        makes)."""
        if self._known_latest is None:
            versions = _list_versions(self.table_dir)
            self._known_latest = (
                versions[-1] if versions else self.start_version
            )
        v = self._known_latest + 1
        while os.path.exists(_version_path(self.table_dir, v)):
            self._known_latest = v
            v += 1
        return self._known_latest

    def initialOffset(self) -> dict:
        self._raise_floor(self.start_version)
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        latest = self._latest_version()
        if self.max_files <= 0 and self.max_bytes <= 0:
            return {"version": latest}
        if self._floor is None:
            # first call of a FRESH stream (the engine asks for the
            # latest offset even before initialOffset) — pace from the
            # configured start
            self._floor = self.start_version
        end, files, size = self._floor, 0, 0
        for v in range(self._floor + 1, latest + 1):
            rec = _read_record(self.table_dir, v)
            # count what THIS stream mode will actually serve — the
            # shared _served_sizes mirror of _change_partitions'
            # branch order (layout commits serve nothing; change feed
            # prefers an append/clone's add files over cdf_files;
            # legacy entries without recorded sizes are lazily
            # stat-backfilled so byte-only pacing still bounds
            # pre-upgrade history)
            n, nb = _served_sizes(
                self.table_dir, rec, self.read_change_feed,
                self._size_cache,
            )
            if files > 0 and (
                (self.max_files and files + n > self.max_files)
                or (self.max_bytes and size + nb > self.max_bytes)
            ):
                break
            end, files, size = v, files + n, size + nb
            if (self.max_files and files >= self.max_files) or (
                self.max_bytes and size >= self.max_bytes
            ):
                break
        self._floor = end
        self._trim_size_cache()
        return {"version": end}

    _SIZE_CACHE_MAX = 4096

    def _trim_size_cache(self) -> None:
        """Bound the legacy-entry stat memo over a long-lived stream:
        pacing only scans FORWARD from the floor, so entries for
        commits the floor has passed are never consulted again — and
        dict insertion order means the oldest keys are exactly those.
        Evicting live-range keys is harmless (a re-stat, not an
        error), so a simple FIFO cap is safe."""
        excess = len(self._size_cache) - self._SIZE_CACHE_MAX
        if excess > 0:
            for k in list(self._size_cache)[:excess]:
                del self._size_cache[k]

    def commit(self, end: dict) -> None:
        # progress lives in the checkpoint; the log needs no ack — but
        # the committed offset is a pacing floor (restart safety)
        self._raise_floor(int(end["version"]))

    def partitions(self, start: dict, end: dict) -> list:
        self._raise_floor(int(end["version"]))
        # versions are contiguous by the commit protocol, and every
        # offset in (start, end] was offered from committed versions —
        # enumerate the range directly instead of re-listing the whole
        # log directory per micro-batch (same listFrom economics as
        # _latest_version; a gap would mean a corrupted log and fails
        # loudly at _read_record)
        versions = list(
            range(start["version"] + 1, end["version"] + 1)
        )
        return _change_partitions(
            self.table_dir,
            versions,
            self.columns,
            self.ignore_changes,
            self.read_change_feed,
            mapping=self._mapping,
        )

    def read(self, partition: _FilePartition) -> Iterator:
        # Executor-side: one file, read via pyarrow off the shared
        # filesystem and served as Arrow RecordBatches — the driver
        # never touches row data and neither does the Python
        # interpreter (see _partition_batches).
        return _partition_batches(partition, self._schema)


class TxLogBatchReader(DataSourceReader):
    """``spark.read.format("txlog")`` — the table (or its change feed)
    as a BATCH relation, planned from the commit log.

    Why this exists next to :meth:`TxTable.read`: the method is the
    throughput path (it hands the pruned file list to Spark's native
    parquet scan — JVM column readers, whole-stage codegen), while this
    reader is the INTEGRATION surface — any consumer that speaks
    ``spark.read.format(...)`` gets snapshot isolation, time travel,
    deletion-vector masking, batch CDF, and Catalyst-driven file
    skipping without importing the library. Filter pushdown
    (``pushFilters``, Spark 4.1) maps Catalyst predicates onto the
    SAME log-level min/max + bloom skip tests ``TxTable.read`` uses:

    - ``EqualTo`` / ``In`` → per-file bloom + range test
      (``_file_may_match_eq`` — tables created with ``bloom_cols``
      skip on equality regardless of range overlap);
    - ``GreaterThan[OrEqual]`` / ``LessThan[OrEqual]`` → half-open
      range test against the footer min/max in the add-entry.

    EVERY filter is returned as unsupported, so Spark re-applies them
    row-level: skipping only drops whole files the predicate would have
    filtered anyway — exact whatever the bloom false-positive rate or
    stats granularity (the same conservative contract as
    ``TxTable.read(prune=..., eq=...)``).

    Scale shape: planning is one driver-side log replay (O(commits
    since the last checkpoint)) + an O(live files) in-memory skip pass;
    one InputPartition per surviving file, read executor-side via
    pyarrow. Deletion vectors ride in their file's partition (bounded
    by ``max_dv_rows`` × compact cadence) and are masked positionally
    — the reader-side half of merge-on-read.
    """

    def __init__(self, options: dict, schema: StructType) -> None:
        self.table_dir = options["tabledir"]
        self.read_change_feed = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )
        self.version = (
            int(options["version"]) if options.get("version") else None
        )
        if options.get("timestamp") is not None:
            # TIMESTAMP AS OF for snapshot reads
            if self.version is not None or self.read_change_feed:
                raise ValueError(
                    "txlog batch read: `timestamp` is a snapshot-read "
                    "option, exclusive with `version`/`readchangefeed`"
                )
            from kafka_flink_harshevents_spark.sources.txlog import (
                TxTable,
            )

            self.version = TxTable(None, self.table_dir).version_at_timestamp(
                float(options["timestamp"])
            )
        if self.read_change_feed and self.version is not None:
            raise ValueError(
                "txlog batch read: `version` applies to snapshot reads; "
                "bound a change-feed read with startingversion/"
                "endingversion instead"
            )
        self.starting_version = int(options.get("startingversion", "1"))
        if options.get("startingtimestamp") is not None:
            # inclusive CDF range start: first commit at/after the stamp
            self.starting_version = (
                _newest_version_before(
                    self.table_dir, float(options["startingtimestamp"])
                )
                + 1
            )
        self.ending_version = (
            int(options["endingversion"])
            if options.get("endingversion")
            else None
        )
        if options.get("endingtimestamp") is not None:
            if options.get("endingversion") is not None:
                raise ValueError(
                    "txlog batch read: pass endingversion OR "
                    "endingtimestamp, not both"
                )
            # inclusive CDF range end: newest commit at/before the
            # stamp (Delta's endingTimestamp rule — the symmetric twin
            # of startingtimestamp's first-at-or-after)
            from kafka_flink_harshevents_spark.sources.txlog import (
                TxTable,
            )

            self.ending_version = TxTable(
                None, self.table_dir
            ).version_at_timestamp(float(options["endingtimestamp"]))
        self.skip_report = options.get("skipreport")
        self.columns = tuple(
            f.name
            for f in schema.fields
            if f.name not in (VERSION_COL, CHANGE_COL)
        )
        self._schema = schema
        # pushed skip constraints: [(col, lo, hi)] ranges (None = open
        # bound, non-strict — conservative for the strict comparators)
        # and [(col, (v, ...))] equality candidate sets
        self._ranges: list[tuple[str, object, object]] = []
        self._eq_sets: list[tuple[str, tuple]] = []
        # column mapping for resolving the declared schema to PHYSICAL
        # file columns/stats/blooms. The declared schema is always the
        # LATEST snapshot's logical names (the DataSource schema() API
        # has no version axis), so the mapping must be the latest too —
        # a version-scoped mapping would miss renames that happened
        # after the time-travel target and NULL-fill the column.
        self._cmap = _column_mapping(self.table_dir)
        self._cmap_dict = dict(self._cmap)

    def pushFilters(self, filters):  # noqa: N802 - pyspark API name
        if _HAS_PUSHDOWN and not self.read_change_feed:
            for f in filters:
                attr = getattr(f, "attribute", None)
                if not attr or len(attr) != 1:
                    continue
                col = attr[0]
                if isinstance(f, EqualTo):
                    self._eq_sets.append((col, (f.value,)))
                elif isinstance(f, In):
                    self._eq_sets.append((col, tuple(f.value)))
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    self._ranges.append((col, f.value, None))
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    self._ranges.append((col, None, f.value))
        # hand every filter back: Spark re-applies them row-level, so
        # file skipping stays a pure optimization
        return filters

    def _keep(self, entry: dict) -> bool:
        cmap = self._cmap_dict
        for col, lo, hi in self._ranges:
            if not _file_may_match(entry, {cmap.get(col, col): (lo, hi)}):
                return False
        for col, values in self._eq_sets:
            if not any(
                _file_may_match_eq(entry, {cmap.get(col, col): v})
                for v in values
            ):
                return False
        return True

    def partitions(self) -> list:
        if self.read_change_feed:
            versions = [
                v
                for v in _list_versions(self.table_dir)
                if self.starting_version
                <= v
                <= (
                    self.ending_version
                    if self.ending_version is not None
                    else float("inf")
                )
            ]
            return _change_partitions(
                self.table_dir,
                versions,
                self.columns,
                ignore_changes=False,
                read_change_feed=True,
                mapping=self._cmap,
            )
        versions = _list_versions(self.table_dir)
        if not versions:
            raise FileNotFoundError(
                f"no transaction log at {self.table_dir}"
            )
        target = self.version if self.version is not None else versions[-1]
        _, live_map, _, dvs = _replay_log(self.table_dir, target)
        live = list(live_map.values())
        if any(e.get("pfill") for e in live):
            raise ValueError(
                "txlog read: this snapshot references hive-adopted "
                "files whose partition values live only in the commit "
                "log (CONVERT of a partitioned source) — the "
                "DataSource's per-file Arrow reader has no log-side "
                "fill; run TxTable.compact() once to materialize the "
                "partition columns, or read through TxTable.read()"
            )
        kept = [e for e in live if self._keep(e)]
        if self.skip_report:
            with open(self.skip_report, "w") as f:
                json.dump(
                    {
                        "version": target,
                        "files_total": len(live),
                        "files_read": len(kept),
                    },
                    f,
                )
        return _pack_partitions([
            _FilePartition(
                os.path.join(self.table_dir, e["path"]),
                target,  # batch rows are stamped with the SNAPSHOT
                # version being read (not per-file provenance — the
                # checkpointed replay doesn't retain add-versions)
                self.columns,
                dv=tuple(sorted(dvs.get(e["path"], ()))),
                mapping=self._cmap,
                nbytes=e.get("bytes"),
            )
            for e in kept
        ])

    def read(self, partition: _FilePartition) -> Iterator:
        # Executor-side, like the stream reader — Arrow RecordBatches
        # with vectorized deletion-vector masking and typed NULL-fill
        # for pre-evolution files (see _partition_batches).
        return _partition_batches(partition, self._schema)


class _TxWriteMessage(WriterCommitMessage):
    """Per-task commit message: the add-entries (path/bucket/stats/
    bloom) for the files the task staged. Plain attribute class —
    must be picklable."""

    def __init__(self, entries: list):
        self.entries = entries


class TxLogBatchWriter(DataSourceArrowWriter):
    """``df.write.format("txlog").mode("append")`` — the table as a
    writable Spark format, with the write running as a REAL two-phase
    commit through the existing log:

    1. executor tasks (Arrow batches, no JVM column access) bucket
       each row with the vectorized numpy twin of the table's bucket
       function (``bucket_batch`` — JVM-parity pinned in tests,
       including declared-width int dispatch; a mislabeled bucket
       would silently escape later merges), write
       one parquet file per bucket under a job-unique ``_staged-*``
       root, and return their add-entries (footer stats + blooms, the
       same metadata ``TxTable._stage`` records) as commit messages;
    2. the driver commits ONE atomic append covering every task's
       files — readers see all of the write or none of it, exactly the
       guarantee ``TxTable.append`` gives, now behind the standard
       writer API. Task retries/speculation are safe for free: a
       failed task's files are never referenced, and ``abort()``
       removes the orphaned stage (vacuum would reclaim it anyway).

    Concurrency: commits go through the same optimistic-concurrency
    log protocol as the library paths — concurrent writers serialize,
    the loser replans its commit record against the new snapshot (data
    files never conflict; plan-time constraint/bucket drift refuses,
    see below). Multi-threaded DRIVERS must use
    ``pyspark.InheritableThread`` and set the active session in each
    thread (a bare thread's pinned JVM thread has no active session,
    so Spark's lookup never reaches the session's Python DataSource
    registry) — pinned in
    ``test_datasource_concurrent_writes_both_commit``.

    Options: ``tabledir`` (required, table must exist —
    ``TxTable.create`` owns keys/bucketing/constraints metadata);
    ``mergeschema`` (add-column evolution, the append contract);
    ``txnappid``/``txnbatchid`` (idempotent writes: a replayed
    (app, batch) commits nothing, the foreachBatch exactly-once
    convention). ``mode("overwrite")`` is refused — rewrites belong to
    ``delete_where``/``merge_upsert``, which keep CDF/time-travel
    semantics honest.

    Scale shape: bucketing/sorting/stats run per-task on Arrow data;
    driver work is O(files) metadata + one commit, and the constraint
    check (when the table declares CHECKs) is one distributed scan of
    ONLY the staged files."""

    def __init__(self, options: dict, schema, overwrite: bool) -> None:
        if overwrite:
            raise ValueError(
                "txlog write: mode('overwrite') is not supported — use "
                "delete_where/merge_upsert for rewrites (they keep CDF "
                "and time-travel semantics); writer is append-only"
            )
        self.table_dir = options["tabledir"]
        self.merge_schema = (
            str(options.get("mergeschema", "false")).lower() == "true"
        )
        self.txn = None
        if options.get("txnappid") is not None:
            self.txn = {
                "app_id": options["txnappid"],
                "batch_id": int(options.get("txnbatchid", "0")),
            }
        from kafka_flink_harshevents_spark.sources.txlog import TxTable

        t = TxTable(None, self.table_dir)
        meta = t.meta  # REPLAYED meta — n_buckets may have evolved
        if meta.get("generated_cols"):
            raise ValueError(
                "txlog write: this table declares GENERATED columns — "
                "the DataSource writer's tasks see Arrow batches, not "
                "Spark expressions; write through TxTable.append/"
                "merge_upsert, which compute and enforce them"
            )
        if meta.get("identity_cols"):
            raise ValueError(
                "txlog write: this table declares IDENTITY/row-tracking "
                "columns — the DataSource writer's tasks cannot allocate "
                "from the table's high-watermark atomically; write "
                "through TxTable.append/merge_upsert, which allocate "
                "inside the committing record"
            )
        if meta.get("partition_by"):
            raise ValueError(
                "txlog write: this table is PARTITIONED BY "
                f"{meta['partition_by']} — the DataSource writer's "
                "per-task layout is bucket-only; write through "
                "TxTable.append/merge_upsert, which stage the "
                "partition-directory layout and record per-file "
                "partition values"
            )
        self.key_cols = tuple(meta["key_cols"])
        self.n_buckets = int(meta["n_buckets"])
        self.bloom_cols = tuple(meta.get("bloom_cols") or ())
        # column mapping: tasks rename logical → physical just before
        # writing (files always carry physical names); key/bloom
        # columns are refused from renaming, so bucketing and bloom
        # building stay on identical names
        self.column_mapping = {
            lg: ph
            for lg, ph in (meta.get("column_mapping") or {}).items()
            if lg != ph
        }
        # CHECK constraints, captured at plan time and enforced IN THE
        # TASKS (DuckDB over each task's Arrow data — the commit hook
        # runs in a Python worker with no SparkSession, so the
        # append()-style distributed Spark check isn't available
        # there; task-side enforcement is also the scalable placement:
        # it fans out with the data and fails the job before commit)
        self.constraints = dict(t.constraints())
        missing = [c for c in self.key_cols if c not in schema.fieldNames()]
        if missing:
            raise ValueError(
                f"txlog write: frame lacks key column(s) {missing}"
            )
        self.schema = StructType(
            [f for f in schema.fields if f.name != "_bucket"]
        )
        # one job-unique staged root, chosen driver-side so every
        # task's files land under it and abort() can reclaim them all
        import uuid

        self.staged = f"_staged-{uuid.uuid4().hex}"

    def write(self, iterator) -> "_TxWriteMessage":
        import uuid

        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(iterator)
        if not batches:
            return _TxWriteMessage([])
        table = pa.Table.from_batches(batches)
        if table.num_rows == 0:  # non-empty batch list, zero rows
            return _TxWriteMessage([])
        if "_bucket" in table.column_names:
            table = table.drop_columns(["_bucket"])
        if self.constraints:
            self._check_constraints_arrow(table)
        # vectorized bucket assignment (numpy xxhash64 over the Arrow
        # key columns, dispatched on declared width — JVM-parity pinned
        # in tests), then ONE stable argsort groups rows by bucket:
        # O(n log n) total, no per-row Python and no O(rows × buckets)
        # selection scan
        buckets = bucket_batch(table, self.key_cols, self.n_buckets)
        table = table.append_column(
            "_bucket", pa.array(buckets, pa.int64())
        )
        order = np.argsort(buckets, kind="stable")
        sorted_b = buckets[order]
        starts = np.flatnonzero(
            np.r_[True, sorted_b[1:] != sorted_b[:-1]]
        )
        ends = np.r_[starts[1:], len(sorted_b)]
        entries: list[dict] = []
        for s, e in zip(starts, ends):
            b = int(sorted_b[s])
            sub = table.take(pa.array(order[s:e])).sort_by(
                [(c, "ascending") for c in self.key_cols]
            )
            d = os.path.join(self.table_dir, self.staged, f"_pb={b}")
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"part-{uuid.uuid4().hex}.parquet")
            if self.column_mapping:
                sub = sub.rename_columns(
                    [
                        self.column_mapping.get(c, c)
                        for c in sub.column_names
                    ]
                )
            pq.write_table(sub, path)
            entry = _add_entry(self.table_dir, path, b)
            blooms = {}
            for c in self.bloom_cols:
                if c in sub.column_names:
                    bl = _bloom_build(sub.column(c).to_pylist())
                    if bl is not None:
                        blooms[c] = bl
            if blooms:
                entry["bloom"] = blooms
            entries.append(entry)
        return _TxWriteMessage(entries)

    def _check_constraints_arrow(self, table) -> None:
        """Task-side CHECK enforcement: DuckDB over the task's Arrow
        data, with the same null-safe semantics as
        ``TxTable._check_constraints`` (`(expr) <=> TRUE` ↔ DuckDB's
        ``IS NOT DISTINCT FROM TRUE`` — a NULL predicate is a
        violation, the data-contract position). Constraint expressions
        must live in the portable SQL subset both engines share
        (comparisons/arithmetic/boolean logic — the practical CHECK
        vocabulary); the library write paths (`append`/`merge_upsert`)
        evaluate the same expressions in Spark, and the cross-path
        agreement is pinned in tests."""
        import duckdb

        from kafka_flink_harshevents_spark.sources.txlog import (
            ConstraintViolation,
        )

        con = duckdb.connect()
        con.register("_w", table)
        for name, expr in self.constraints.items():
            bad = con.execute(
                f"SELECT * FROM _w WHERE NOT (({expr}) "
                "IS NOT DISTINCT FROM TRUE) LIMIT 1"
            ).fetchall()
            if bad:
                raise ConstraintViolation(
                    f"txlog datasource write violates constraint "
                    f"{name} ({expr}): e.g. {bad[0]}"
                )

    def commit(self, messages) -> None:
        # Runs in a Python worker with NO SparkSession — everything
        # here is commit-log metadata work (replay, schema union,
        # atomic link), which is exactly why it can be spark-free.
        import shutil

        from kafka_flink_harshevents_spark.sources.txlog import TxTable

        entries = [
            e for m in messages if m is not None for e in m.entries
        ]
        t = TxTable(None, self.table_dir)
        if self.txn is not None and self.txn[
            "batch_id"
        ] <= t.last_committed_batch(self.txn["app_id"]):
            # replayed idempotent write: drop the stage, commit nothing
            shutil.rmtree(
                os.path.join(self.table_dir, self.staged),
                ignore_errors=True,
            )
            return

        def attempt():
            v, _, snap_schema = t._snapshot()
            schema_rec = t._schema_union_json(
                self.schema, snap_schema, self.merge_schema,
                "txlog datasource write",
            )
            if entries and t.constraints() != self.constraints:
                # a constraint landed between plan and commit: the
                # task-side checks ran against a stale rule set —
                # refuse rather than admit unchecked rows (rare race;
                # the stage is reclaimed, the caller retries)
                shutil.rmtree(
                    os.path.join(self.table_dir, self.staged),
                    ignore_errors=True,
                )
                raise RuntimeError(
                    "txlog datasource write: table constraints changed "
                    "during the write; staged files discarded — retry"
                )
            if entries and t.meta["n_buckets"] != self.n_buckets:
                # a rebucket() landed between plan and commit: the
                # tasks bucketed rows under the OLD modulus, and
                # committing mislabeled files would let rows escape
                # later merges — discard and make the caller retry
                shutil.rmtree(
                    os.path.join(self.table_dir, self.staged),
                    ignore_errors=True,
                )
                raise RuntimeError(
                    "txlog datasource write: table was rebucketed "
                    "during the write; staged files discarded — retry"
                )
            record = {
                "version": v + 1,
                "op": "append",
                "add": entries,
                "remove": [],
                "schema_json": schema_rec,
            }
            if self.txn is not None:
                record["txn"] = self.txn
            return record, None

        # the shared commit path: atomic link + the table's
        # auto-checkpoint cadence (checkpoint() is log-only, so it runs
        # fine in this spark-less commit worker)
        t._transact(attempt)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(
            os.path.join(self.table_dir, self.staged), ignore_errors=True
        )
