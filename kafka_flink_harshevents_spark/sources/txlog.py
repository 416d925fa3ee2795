"""Transactional table layer over parquet — ACID MERGE for the K4 sink.

The reference's consumer updates Mongo documents in place by id
(kafkaConsumer.js:304-318 — K4 in SURVEY.md §2.2). The engine's
bucket-partitioned emulation (`sinks.upsert_foreach_batch`) is correct
for a single writer but not atomic: a reader that lists the output
directory mid-rewrite sees a torn table, and two concurrent writers can
silently interleave bucket overwrites. Real deployments reach for
Delta/Iceberg here; neither ships in this container, so this module
implements the minimal core of that idea from scratch — the same
log-structured design published in the Delta Lake paper (Armbrust et
al., VLDB 2020): immutable data files + an append-only JSON commit log
with optimistic concurrency.

Layout::

    table_dir/
      _txlog/00000000000000000001.json   one record per committed version
      _staged-<uuid>/_pb=K/part-*.parquet   immutable data files
                                          (bucket id also stored in-row)

A data file is INVISIBLE until a commit record references it, so
readers always see a consistent snapshot: the live file set of version
V is ``union(add[1..V]) - union(remove[1..V])``.

Commit protocol (single shared filesystem — HDFS/NFS/local all give
atomic ``link``):

1. read the latest version V (snapshot isolation — the whole
   transaction computes against V's file set);
2. write new data files under a fresh ``_staged-<uuid>/`` directory
   (invisible — no reader lists the table root);
3. serialize the commit record to ``_txlog/.tmp-<uuid>``;
4. ``os.link(tmp, _txlog/<V+1>.json)`` — the filesystem's atomic
   create-if-absent. If a concurrent writer already claimed V+1 the
   link fails with EEXIST and the loser retries against the new
   snapshot (optimistic concurrency control);
5. unlink the tmp file.

Crash safety: a writer that dies before step 4 leaves only an orphan
staged directory and/or tmp file — never a torn commit. Readers ignore
both (they only follow the log); ``vacuum`` reclaims them.

Exactly-once streaming: commit records carry an optional
``txn: {app_id, batch_id}`` marker. The commit itself checks the
batch against the latest batch_id committed for its app_id in the
snapshot it claims its version on (``TxTable._transact``) — a replayed
micro-batch (checkpoint recovery, T5/T6 in SURVEY §2.10) becomes a
no-op instead of a duplicate MERGE, upgrading the sink from
at-least-once to exactly-once without a broker-side transaction.

Scale shape: the MERGE rewrite unit is one hash bucket (table size /
``n_buckets``), touched buckets only — identical to the file-group
compaction unit in Delta/Iceberg. The log itself is O(versions) tiny
JSON files; snapshot reconstruction is a driver-side replay, O(total
adds), the same cost Delta pays without checkpoints (a parquet
checkpoint of the file list is the obvious extension and is not needed
at this log length).
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import re
import shutil
import struct
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_flink_harshevents_spark.sources.txskip import (
    _bloom_build,
    _file_stats,
    file_predicate,
    skip_counts,
)

_LOG_DIR = "_txlog"
_PAD = 20

# ≤ this many staged bytes per commit → the per-file bloom bitmaps are
# built from one driver-side pyarrow read of the just-written files
# (zero scheduled jobs) instead of the distributed scan job; above it
# the distributed path runs unchanged (the size-guarded driver-path
# rule — bpe/pagerank/kmeans). Identical bitmaps either way:
# _bloom_build dedups and hashes the same native values.
_BLOOM_DRIVER_MAX_BYTES = 64 * 1024 * 1024


def _multiset_delta(pre: DataFrame, post: DataFrame) -> DataFrame:
    """Exact FULL-ROW multiset delta between two frames: per distinct
    row, |n_post − n_pre| copies tagged insert / delete. Exact for ANY
    key multiplicity (no key-uniqueness assumption). Cost: one hash agg
    per side plus a null-safe full-outer join over distinct rows."""
    cols = post.columns
    pc = pre.groupBy(*cols).agg(F.count(F.lit(1)).alias("_n_pre"))
    qc = post.groupBy(*cols).agg(F.count(F.lit(1)).alias("_n_post"))
    j = pc.alias("p").join(
        qc.alias("q"),
        [F.col(f"p.{c}").eqNullSafe(F.col(f"q.{c}")) for c in cols],
        "full_outer",
    ).select(
        *[F.coalesce(F.col(f"p.{c}"), F.col(f"q.{c}")).alias(c) for c in cols],
        (
            F.coalesce(F.col("q._n_post"), F.lit(0))
            - F.coalesce(F.col("p._n_pre"), F.lit(0))
        ).alias("_d"),
    )
    return (
        j.filter(F.col("_d") != 0)
        .select(
            *cols,
            F.explode(F.expr("sequence(1, abs(_d))")).alias("_i"),
            F.when(F.col("_d") > 0, F.lit("insert"))
            .otherwise(F.lit("delete"))
            .alias("_change_type"),
        )
        .drop("_i")
    )


def _path_sfx(path: str) -> str:
    """3-component path suffix — the scan-side file-identity key
    (``_open_files`` truncates ``_metadata.file_path`` the same way).
    For table-local staged files this EQUALS the stored relative path
    (``_staged-<uuid>/_pb=N/part-*.parquet``); clone- and
    convert-adopted entries store longer absolute paths, so every
    comparison between a stored entry path and a scan-side ``_file``
    must normalize through this helper."""
    return "/".join(path.split("/")[-3:])


#: hive's directory token for a NULL partition value
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

#: Spark type names a partition column may carry — the types whose
#: values round-trip a hive ``col=value`` directory name losslessly
#: into the stats-scalar encoding (ints as ints, dates as epoch-days,
#: strings urldecoded). Floats are refused (directory round-trip is
#: not exact), booleans/binary/nested are not meaningful partitions.
_PART_TYPES = {"string", "byte", "short", "integer", "long", "date"}


def _part_scalar_of_dir(token: str, type_name: str):
    """Decode one hive partition-directory VALUE token into the same
    JSON-safe scalar encoding file stats use
    (``txskip._stat_scalar``), typed by the column's Spark type name.
    ``__HIVE_DEFAULT_PARTITION__`` → None (the null partition)."""
    from urllib.parse import unquote

    if token == _HIVE_NULL:
        return None
    v = unquote(token)
    if type_name in ("byte", "short", "integer", "long"):
        return int(v)
    if type_name == "date":
        return (
            datetime.date.fromisoformat(v) - datetime.date(1970, 1, 1)
        ).days
    return v


def _infer_part_type(tokens) -> str:
    """Infer a hive-converted partition column's Spark type from its
    directory value tokens — Spark's own partition-discovery ladder
    restricted to the losslessly round-tripping types: long if every
    value is an integer, date if every value is an ISO date, else
    string (all-null columns default to string)."""
    from urllib.parse import unquote

    vals = [unquote(t) for t in tokens]

    def is_date(v: str) -> bool:
        try:
            datetime.date.fromisoformat(v)
        except ValueError:
            return False
        return True

    if vals and all(re.fullmatch(r"-?\d+", v) for v in vals):
        return "long"
    if vals and all(is_date(v) for v in vals):
        return "date"
    return "string"



# copy_into's directory-walk stray policy: doc/metadata strays
# (README, manifest.json, schema.yaml, ops notes) must NOT hard-fail
# an otherwise idle landing zone, but a zone full of DATA files the
# requested format cannot read IS a mis-specified file_format and
# must fail loudly — including formats this engine doesn't load
# (.arrow/.feather/.pb): a silent (version, 0) would mask those
# forever. So the quiet set is an explicit BENIGN allowlist
# (doc/config extensions, extension-less files, well-known metadata
# basenames, in-flight upload suffixes); everything else counts as
# foreign data.
_BENIGN_EXTS = frozenset(
    ("md", "rst", "log", "yaml", "yml", "html", "htm", "ini", "cfg",
     "conf", "toml", "lock", "tmp", "crc", "part", "partial")
)
_STRAY_BASENAMES = frozenset(
    ("manifest", "readme", "metadata", "schema", "notes", "changelog",
     "license", "sample", "checksums")
)


def _is_foreign_data_file(name: str) -> bool:
    """True when ``name`` (already known not to match the requested
    format) looks like a DATA file of another format — the signal that
    the caller's ``file_format`` is wrong — rather than a doc/metadata
    stray a landing zone legitimately carries."""
    base = name.lower()
    compressed = False
    for c in (".gz", ".bz2", ".zst", ".snappy", ".lz4", ".deflate"):
        if base.endswith(c):
            base = base[: -len(c)]
            compressed = True
            break
    stem, dot, ext = base.rpartition(".")
    if not dot:
        # extension-less: benign stray — UNLESS a compression suffix
        # was stripped (``data.gz``): a bare compressed file is data
        # of some format this read can't parse, and silently skipping
        # it would no-op a whole mis-specified landing zone
        return compressed and base.rpartition("/")[2] not in _STRAY_BASENAMES
    if ext in _BENIGN_EXTS:
        return False
    return stem.rpartition("/")[2] not in _STRAY_BASENAMES


def _add_entry(table_dir: str, path: str, bucket: int) -> dict:
    """One add-entry for a freshly staged data file — the single
    construction BOTH write paths (library ``_stage``, DataSource
    writer) share, so the entry shape (path / bucket / footer stats /
    physical bytes) can never drift between them."""
    return {
        "path": os.path.relpath(path, table_dir),
        "bucket": bucket,
        "stats": _file_stats(path),
        "bytes": os.path.getsize(path),
    }


# Safe type WIDENINGS (narrow, wide): every reader upcasts losslessly
# at scan time — Spark's parquet readers (SPARK-40876, 4.0+) and the
# DataSource's Arrow cast both support them — so the log can record the
# wide type while old files keep the narrow physical encoding (Delta's
# typeWidening feature set, minus the decimal/date rows we don't carry).
_WIDENINGS = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
    ("byte", "double"), ("short", "double"), ("integer", "double"),
}


def _widens_to(narrow, wide) -> bool:
    """True when a column physically encoded as `narrow` reads
    losslessly under a declared `wide` schema."""
    return (narrow.typeName(), wide.typeName()) in _WIDENINGS


def _rename_columns(df: DataFrame, pairs) -> DataFrame:
    """Apply (src, dst) column renames where src exists — the single
    walk every column-mapping translation site shares (logical →
    physical before a write, physical → logical after a read)."""
    for a, b in pairs:
        if a != b and a in df.columns:
            df = df.withColumnRenamed(a, b)
    return df


def _expr_mentions(expr: str, col: str) -> bool:
    """Whether a SQL expression references ``col`` as an identifier —
    word-boundary and case-insensitive (Spark resolves identifiers
    case-insensitively), so dropping column ``c`` is not refused
    because an expression mentions ``amount_c``, while an expression
    written ``V % 10`` still guards column ``v``. Boundaries are
    lookarounds rather than ``\\b`` so names with non-word edge
    characters (backtick-quoted exotics like ``pct%``) still match —
    ``\\b`` finds no boundary between two non-word chars and would
    silently let the drop through, bricking later writes. Conservative
    for quoted identifiers and string literals (a mention counts as a
    reference — refusal is the safe direction)."""
    return re.search(
        rf"(?<!\w){re.escape(col)}(?!\w)", expr, re.IGNORECASE
    ) is not None


def _alias_ref(expr: str, alias: str) -> bool:
    """Whether a SQL expression references ``<alias>.<col>`` — case-
    insensitive (Spark resolves aliases case-insensitively) and
    backtick-aware (``` `t`.v ``` is the same reference quoted; a
    naked-identifier regex would let it slip through and silently
    NULL the guarded rows). Conservative on string literals containing
    the pattern — refusal is the safe direction."""
    return re.search(
        rf"(?<![A-Za-z0-9_])`?{re.escape(alias)}`?\s*\.",
        expr,
        re.IGNORECASE,
    ) is not None


def _nullsafe_true(cond: str | None):
    """A clause condition as a null-safe boolean column: UNKNOWN means
    the clause does NOT apply (the row is kept / not inserted), never
    that it actions — SQL's three-valued WHERE discipline. ``None`` =
    unconditional."""
    return (
        F.expr(cond).eqNullSafe(F.lit(True)) if cond else F.lit(True)
    )


def _ins_clause_idx(ins_clauses: list[dict]):
    """First-true WHEN NOT MATCHED clause index as a column (NULL =
    no clause claims the row — it is dropped), evaluated over the
    ``s`` alias; shared by the joined merge plan and the insert-only
    fast path so the two can never disagree on clause precedence."""
    chain = None
    for j, cl in enumerate(ins_clauses):
        c = _nullsafe_true(cl["condition"])
        chain = (F.when if chain is None else chain.when)(c, F.lit(j))
    return chain.otherwise(F.lit(None).cast("int"))


def _ins_value_of(
    c: str, icidx, ins_clauses: list[dict], key_cols, types: dict
):
    """Insert value for column ``c`` under the winning clause:
    ``values=None`` → the source row; an assigned-values clause takes
    unassigned KEY columns from the source (the ON-clause alignment —
    a NULL key would be silently dropped by bucket hygiene) and NULL
    for every other unassigned column (SQL INSERT semantics)."""
    w = None
    for j, cl in enumerate(ins_clauses):
        vals = cl["values"]
        if vals is None or c in key_cols and c not in vals:
            u = F.col(f"s.{c}")
        elif c in vals:
            u = F.expr(vals[c])
        else:
            u = F.lit(None).cast(types[c])
        w = (F.when if w is None else w.when)(icidx == j, u)
    return w.otherwise(F.lit(None).cast(types[c]))


class ConstraintViolation(ValueError):
    """A write carried rows violating a table CHECK constraint; nothing
    was staged or committed."""


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the version this transaction targeted."""


class _ConcurrentCopy(RuntimeError):
    """A concurrent copy_into landed overlapping source files; the
    caller re-plans with the now-seen files dropped."""


def _version_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _LOG_DIR, f"{version:0{_PAD}d}.json")


def _list_versions(table_dir: str) -> list[int]:
    pat = os.path.join(table_dir, _LOG_DIR, "[0-9]" * _PAD + ".json")
    return sorted(int(os.path.basename(p)[:_PAD]) for p in glob.glob(pat))


def _latest_checkpoint(table_dir: str, max_version: int) -> dict | None:
    """Newest ``chk-*.json`` with version ≤ max_version, or None. An
    unreadable checkpoint (partial write from a crashed process before
    the atomic replace — shouldn't happen, but the log must survive
    anything) is skipped: full replay is always a correct fallback."""
    pat = os.path.join(table_dir, _LOG_DIR, "chk-" + "[0-9]" * _PAD + ".json")
    best: dict | None = None
    for p in glob.glob(pat):
        v = int(os.path.basename(p)[4 : 4 + _PAD])
        if v > max_version or (best is not None and v <= best["version"]):
            continue
        try:
            with open(p) as f:
                best = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
    return best


def _read_record(table_dir: str, version: int) -> dict:
    with open(_version_path(table_dir, version)) as f:
        return json.load(f)


class _Snapshot(NamedTuple):
    """One replayed table state: the version, live add-entries by
    path, schema json, deletion vectors by path, merged table meta,
    CHECK constraints (name → expr) and per-app txn high-water marks
    (app_id → batch_id)."""

    version: int
    live: dict[str, dict]
    schema_json: str | None
    dvs: dict[str, set]
    meta: dict
    constraints: dict[str, str]
    txns: dict[str, int]


#: fields a checkpoint must carry to seed a replay (older layouts
#: lacking one are skipped for a full replay)
_CHK_FIELDS = ("live", "schema_json", "dvs", "meta", "constraints", "txns")


def _replay_log(table_dir: str, target: int | None = None) -> _Snapshot:
    """Log replay to ``target`` (default: the latest version, 0 on an
    empty log) → :class:`_Snapshot` — the ONE checkpoint-aware fold of
    the commit log; snapshots, meta, constraints and the exactly-once
    txn marks are all fields of it.

    Replay rules, applied per commit in version order:

    - live files: ``add`` entries enter, ``remove`` paths leave;
    - deletion vectors: a ``dv`` field is a DELTA of newly deleted
      row positions (unioned in); adding or removing a file drops its
      vector; ``dv_full`` (restore commits) replaces the whole DV
      state absolutely;
    - schema: the newest ``schema_json``;
    - meta: the create record's ``meta``, patched by each later
      ``meta_update`` / ``meta_unset`` (``n_buckets`` evolves via
      rebucket, properties via set/unset_properties);
    - constraints: the newest ``constraints`` map;
    - txns: the running max ``batch_id`` per ``txn.app_id``.

    Starts from the newest readable checkpoint ≤ target when it carries
    every field (:data:`_CHK_FIELDS`), so cost is O(commits since the
    last checkpoint); otherwise full replay, which is always correct.
    Module-level (no SparkSession) so the ``format("txlog")``
    DataSource readers plan partitions from the same authority as
    :class:`TxTable`."""
    versions = _list_versions(table_dir)
    if target is None:
        target = versions[-1] if versions else 0
    live: dict[str, dict] = {}
    schema_json: str | None = None
    dvs: dict[str, set] = {}
    meta: dict = {}
    constraints: dict[str, str] = {}
    txns: dict[str, int] = {}
    from_v = 0
    chk = _latest_checkpoint(table_dir, target)
    if chk is not None and all(k in chk for k in _CHK_FIELDS):
        from_v = chk["version"]
        live = {e["path"]: e for e in chk["live"]}
        schema_json = chk["schema_json"]
        dvs = {p: set(v) for p, v in chk["dvs"].items()}
        meta = dict(chk["meta"])
        constraints = dict(chk["constraints"])
        txns = dict(chk["txns"])
    for v in versions:
        if v <= from_v:
            continue
        if v > target:
            break
        rec = _read_record(table_dir, v)
        for entry in rec["add"]:
            live[entry["path"]] = entry
            dvs.pop(entry["path"], None)  # fresh file: clean vector
        for path in rec["remove"]:
            live.pop(path, None)
            dvs.pop(path, None)
        if "dv_full" in rec:
            dvs = {p: set(v) for p, v in rec["dv_full"].items()}
        elif "dv" in rec:
            for p, positions in rec["dv"].items():
                dvs.setdefault(p, set()).update(positions)
        schema_json = rec.get("schema_json", schema_json)
        if "meta" in rec:
            meta = dict(rec["meta"])
        meta.update(rec.get("meta_update") or {})
        for k in rec.get("meta_unset") or ():
            meta.pop(k, None)
        if "constraints" in rec:
            constraints = dict(rec["constraints"])
        t = rec.get("txn")
        if t and "app_id" in t:
            txns[t["app_id"]] = max(
                int(txns.get(t["app_id"], -1)), int(t["batch_id"])
            )
    return _Snapshot(target, live, schema_json, dvs, meta, constraints, txns)


def _version_at(table_dir: str, ts: float, inclusive: bool = True) -> int:
    """Newest version whose commit timestamp, clamped to the running
    maximum (so skewed writer clocks can never make time travel
    non-monotonic), is ≤ ``ts`` (``inclusive``) or < ``ts``. An
    exclusive lookup returns 0 when the history starts at or after
    ``ts``; an inclusive one (a snapshot must exist) raises. Linear
    record scan — an interactive / stream-start resolution, not a
    per-trigger path."""
    best = 0
    cummax = float("-inf")
    for v in _list_versions(table_dir):
        rec_ts = _read_record(table_dir, v).get("ts")
        if rec_ts is not None:
            cummax = max(cummax, float(rec_ts))
        if cummax > ts or (cummax == ts and not inclusive):
            break  # clamped stamps are monotone — done
        best = v
    if inclusive and not best:
        raise ValueError(
            f"{table_dir}: no commit at or before timestamp {ts}"
        )
    return best


_COPIED_DIRNAME = "copied"
_COPIED_FOLD_EVERY = 10  # segments per fold — the log-checkpoint cadence


def _copied_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _LOG_DIR, _COPIED_DIRNAME)


def _copied_segments(table_dir: str) -> list[tuple[int, str]]:
    """(version, path) of every copied-set segment, ascending. Each
    segment ``seg-<v>.json`` holds ``{"version", "base_version",
    "paths"}`` = the source paths copy_into ingested in commits
    ``(base_version, version]`` (a FOLD segment has base_version 0 and
    the full union). Segment contents are monotone facts — a path,
    once copied at some commit ≤ v, is copied forever — so readers
    may union ANY subset whose ranges cover (0, floor]."""
    d = _copied_dir(table_dir)
    if not os.path.isdir(d):
        return []
    out = []
    for nm in os.listdir(d):
        m = re.match(r"seg-(\d+)\.json$", nm)
        if m:
            out.append((int(m.group(1)), os.path.join(d, nm)))
    return sorted(out)


def _copied_base(table_dir: str, target: int) -> tuple[int, set]:
    """(floor_version, copied paths as of floor) — the replay base for
    the copied set at ``target``: the union of all segments ≤ target,
    falling back to a pre-segment checkpoint's embedded ``copied``
    field (written by older layouts; migrated into the first segment
    by the next :meth:`TxTable.checkpoint`). Retries once around a
    concurrent fold (listed segments may vanish mid-read; the fold
    that removed them covers their range)."""
    for _ in range(3):
        segs = [
            (v, p) for v, p in _copied_segments(table_dir) if v <= target
        ]
        if not segs:
            chk = _latest_checkpoint(table_dir, target)
            if chk is not None and "copied" in chk:
                return chk["version"], set(chk["copied"])
            return 0, set()
        seen: set[str] = set()
        try:
            for _v, p in segs:
                with open(p) as f:
                    seen.update(json.load(f)["paths"])
        except FileNotFoundError:
            continue  # folded away under us — re-list
        return max(v for v, _ in segs), seen
    raise RuntimeError(
        f"{table_dir}: copied-set segments kept vanishing mid-read "
        "(concurrent fold storm?)"
    )


def _copied_write_segment(
    table_dir: str, version: int, base_version: int, paths: set
) -> bool:
    """Publish one segment via the create-if-absent link primitive —
    exactly one writer wins a given ``seg-<version>`` name; a loser
    leaves the winner's bytes in place (its own delta is re-derivable
    from the log). Returns True iff THIS call created the file."""
    d = _copied_dir(table_dir)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(
            {
                "version": version,
                "base_version": base_version,
                "paths": sorted(paths),
            },
            f,
        )
    try:
        os.link(tmp, os.path.join(d, f"seg-{version:0{_PAD}d}.json"))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _atomic_commit(table_dir: str, version: int, record: dict) -> None:
    """Publish `record` as `version` or raise ConcurrentWriteError.

    ``os.link`` is the atomic create-if-absent primitive: exactly one
    writer can create the destination name; every other attempt gets
    EEXIST. (``os.rename`` would silently overwrite — wrong tool.)

    Every record is stamped with the committing writer's wall clock
    (``ts``, epoch seconds) — Delta's in-commit-timestamp shape, the
    basis for TIMESTAMP AS OF time travel. Readers clamp to the
    running maximum, so cross-writer clock skew can blur WHICH commit
    a borderline timestamp resolves to, never break monotonicity.
    """
    import time

    record.setdefault("ts", time.time())
    log_dir = os.path.join(table_dir, _LOG_DIR)
    os.makedirs(log_dir, exist_ok=True)
    tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(record, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _version_path(table_dir, version))
    except FileExistsError as exc:
        raise ConcurrentWriteError(
            f"version {version} of {table_dir} was committed concurrently"
        ) from exc
    finally:
        os.unlink(tmp)


def _fresh_v2(table_dir: str, op: str, record: dict):
    """The ``_transact`` attempt of a bootstrap commit (``clone_to`` /
    ``convert_from_parquet``): ``record`` lands as v2 of the table the
    caller just created, and any other commit landing there first makes
    the directory not fresh — refused, never retried over."""

    def attempt(snap: _Snapshot):
        if snap.version != 1:
            raise ValueError(
                f"{op}: {table_dir} is not a fresh table directory"
            )
        return record, None

    return attempt


class TxTable:
    """A keyed, hash-bucketed table with atomic MERGE and time travel.

    ``key_cols`` is the business key (the reference's Mongo ``_id``),
    ``order_col`` breaks versions of one key (latest wins — the K4
    update-by-id semantics), ``n_buckets`` is the rewrite granularity.
    """

    #: reserved managed column implementing row tracking (Delta's
    #: row-ID feature): present in every data file of a
    #: ``row_tracking=True`` table, allocated like an IDENTITY column
    _ROW_ID = "_row_id"

    #: protocol versions THIS engine implements (the Delta
    #: reader/writer-version mechanism): a table whose recorded
    #: ``protocol`` demands more must be REFUSED, not misread — the
    #: forward-compatibility contract that lets a future engine add
    #: log features (new DV encodings, new stat shapes) without old
    #: engines silently corrupting or misreading tables that use them
    READER_VERSION = 1
    WRITER_VERSION = 1

    def __init__(self, spark: SparkSession, table_dir: str):
        self.spark = spark
        self.table_dir = table_dir

    def _check_protocol(self, action: str, meta: dict) -> None:
        """Refuse reads/writes the protocol recorded in ``meta`` (the
        caller's snapshot) says this engine is too old for; tables
        without a protocol record default to (1, 1)."""
        rec = meta.get("protocol") or {}
        need = int(rec.get(
            "min_reader" if action == "read" else "min_writer", 1
        ))
        have = (
            self.READER_VERSION if action == "read"
            else self.WRITER_VERSION
        )
        if need > have:
            raise ValueError(
                f"table at {self.table_dir} requires {action}er "
                f"protocol version {need}, this engine implements "
                f"{have} — upgrade the engine (refusing is the "
                "protocol contract; proceeding could misread or "
                "corrupt the log)"
            )

    # -- bootstrap ---------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        table_dir: str,
        key_cols: tuple[str, ...],
        order_col: str,
        n_buckets: int = 16,
        cdf: bool = False,
        bloom_cols: tuple[str, ...] = (),
        generated_cols: dict[str, str] | None = None,
        checkpoint_interval: int | None = 10,
        identity_cols: dict[str, dict] | None = None,
        row_tracking: bool = False,
        partition_by: tuple[str, ...] = (),
    ) -> "TxTable":
        """``cdf=True`` is Delta's ``enableChangeDataFeed`` table
        property: rewrite commits (merge / delete / update) MATERIALIZE
        their row-level change feed as parquet at commit time, so
        ``table_changes`` reads it back without re-deriving the diff
        and the streaming source can serve a live change feed
        (``readchangefeed=true``). Appends/compactions never
        materialize — inserts are synthesized from the add files and
        layout commits have an empty feed, exactly Delta's rule.

        ``bloom_cols`` is Delta's ``CREATE BLOOMFILTER INDEX``: every
        staged file additionally records a per-column bloom bitmap in
        its add-entry, and ``read(eq={col: value})`` skips files the
        bloom proves can't hold the value — point lookups open O(1)
        files on a bucketed key however many files min/max overlap.

        ``generated_cols`` is Delta's GENERATED ALWAYS AS: column →
        Spark SQL expression over the other columns. Library write
        paths COMPUTE the column when the incoming frame lacks it and
        REFUSE a frame that carries mismatching values (a generated
        column is a contract, not a default); the classic use is a
        derived date column whose file stats then drive pruning. The
        DataSource writer refuses such tables (its tasks see Arrow,
        not Spark expressions) — write through the library API.

        ``identity_cols`` is Delta's GENERATED ... AS IDENTITY: column
        → ``{"start": int, "step": int, "always": bool}`` (defaults
        1 / 1 / True). Library write paths ALLOCATE the column for
        inserted rows from a high-watermark counter carried in table
        meta (``identity_next``, bumped via the committing record's
        ``meta_update`` — so allocation is exactly as atomic as the
        write itself, and OCC retries (``_transact``) re-allocate when a
        concurrent writer moved the watermark). ``always=True``
        (GENERATED ALWAYS) refuses incoming frames that carry the
        column; ``always=False`` (BY DEFAULT) accepts explicit values
        and fills only the NULLs. Values are unique across concurrent
        writers by construction; like Delta, gaps are possible (a
        retried writer re-allocates past the winner's range) but
        values within one commit are consecutive in (bucket, key,
        order) order. Updates keep a row's identity: ``merge_upsert``
        / ``apply_cdc`` winners INHERIT the existing key's value (the
        existing id beats any explicit BY DEFAULT incoming value —
        explicit values apply to NEW keys only),
        ``merge_into`` updates keep the target value, and
        ``update_where`` refuses assigning the column.

        ``row_tracking=True`` is Delta's row-tracking feature: every
        row carries a stable ``_row_id`` (an internal GENERATED ALWAYS
        AS IDENTITY column starting at 0), fresh on insert, INHERITED
        on keyed updates, preserved byte-identically across rewrites
        that don't modify the row (compact / OPTIMIZE ZORDER /
        rebucket / replace_where survivors) — the lineage handle a
        training-data pipeline needs to track an example across
        dedup/requalification rewrites. ``_row_id`` is a real physical
        column: visible in every read surface (library read,
        DataSource batch/stream, CDF), droppable by nobody, and
        costing one extra int64 per row.

        ``checkpoint_interval`` is Delta's every-10-commits checkpoint
        cadence: after every Nth committed version the writer
        opportunistically materializes a log checkpoint, keeping
        snapshot replay O(interval) however long the log grows — at
        a 10⁵-commit production log that is the difference between
        reading 10 records and 10⁵ per snapshot. ``None``/0 disables
        (manual ``checkpoint()`` still works).

        ``partition_by`` is Delta's ``PARTITIONED BY`` — hive-style
        directory partitioning COMPOSED with the hash-bucketed layout:
        every staged commit splits its files per distinct partition
        tuple (``col=value`` directories under each staged root), each
        add-entry records the file's exact partition values in the
        commit log (the Iceberg manifest-entry shape), and
        ``read(eq=...)`` / ``read(prune=...)`` / the DELETE/UPDATE
        find-scans skip non-matching files EXACTLY — a partition value
        is an invariant of the file, not a min/max estimate, so
        partition pruning works even where footer stats are dropped
        (long strings) and composes with the existing stats/bloom
        skipping. Unlike hive, partition values ALSO live in the data
        files (the directory split is layout, the column is data), so
        explicit-file-list reads, streaming, and the DataSource need
        no partition discovery. Partition columns may be generated
        columns (the classic derived-date pattern) and must be
        string/integral/date typed (enforced at first write); every
        write frame must carry them (the Delta rule). The classic
        scale win: a day-partitioned 100 TB event log answers a
        one-day query by opening one partition's files — file-level
        pruning proportional to data touched, not table size."""
        t = cls(spark, table_dir)
        if _list_versions(table_dir):
            return t  # already initialized — metadata is immutable
        gen = dict(generated_cols or {})
        bad = set(gen) & (set(key_cols) | {order_col})
        if bad:
            raise ValueError(
                f"generated_cols cannot cover key/order columns {sorted(bad)}"
            )
        ident: dict[str, dict] = {}
        for iname, spec in (identity_cols or {}).items():
            if iname.startswith("_"):
                raise ValueError(
                    f"identity column name {iname!r} is reserved "
                    "(leading underscore) — _row_id is managed by "
                    "row_tracking=True"
                )
            spec = dict(spec or {})
            unknown = set(spec) - {"start", "step", "always"}
            if unknown:
                raise ValueError(
                    f"identity column {iname!r}: unknown spec key(s) "
                    f"{sorted(unknown)} — use start/step/always"
                )
            step = int(spec.get("step", 1))
            if step == 0:
                raise ValueError(
                    f"identity column {iname!r}: step must be nonzero"
                )
            ident[iname] = {
                "start": int(spec.get("start", 1)),
                "step": step,
                "always": bool(spec.get("always", True)),
            }
        if row_tracking:
            ident[cls._ROW_ID] = {"start": 0, "step": 1, "always": True}
        badi = set(ident) & (set(key_cols) | {order_col})
        if badi:
            raise ValueError(
                "identity/row-tracking columns cannot cover key/order "
                f"columns {sorted(badi)} — the bucket hash and ordering "
                "must be caller-supplied"
            )
        badig = set(ident) & set(gen)
        if badig:
            raise ValueError(
                f"column(s) {sorted(badig)} cannot be both GENERATED "
                "and IDENTITY"
            )
        for gname, gexpr in gen.items():
            hit = [c for c in ident if _expr_mentions(gexpr, c)]
            if hit:
                raise ValueError(
                    f"generated column {gname!r} ({gexpr}) references "
                    f"IDENTITY/row-tracking column(s) {hit} — generation "
                    "expressions run BEFORE allocation, so the value "
                    "would be computed from NULL on every insert"
                )
        pby = tuple(partition_by)
        if len(set(pby)) != len(pby):
            raise ValueError(
                f"partition_by has duplicate column(s): {list(pby)}"
            )
        badp = [p for p in pby if p.startswith("_")]
        if badp:
            raise ValueError(
                f"partition_by cannot name reserved column(s) {badp}"
            )
        badpi = set(pby) & set(ident)
        if badpi:
            raise ValueError(
                "partition_by cannot cover IDENTITY/row-tracking "
                f"column(s) {sorted(badpi)} — a per-row-unique value "
                "would make one file per row"
            )
        _atomic_commit(
            table_dir,
            1,
            {
                "version": 1,
                "op": "create",
                "add": [],
                "remove": [],
                "meta": {
                    "key_cols": list(key_cols),
                    "order_col": order_col,
                    "n_buckets": n_buckets,
                    "cdf": bool(cdf),
                    "bloom_cols": list(bloom_cols),
                    "generated_cols": gen,
                    "checkpoint_interval": int(checkpoint_interval or 0),
                    **({"identity_cols": ident} if ident else {}),
                    **({"row_tracking": True} if row_tracking else {}),
                    **({"partition_by": list(pby)} if pby else {}),
                },
            },
        )
        return t

    def _with_generated(
        self, df: DataFrame, op: str, meta: dict
    ) -> DataFrame:
        """Enforce GENERATED ALWAYS AS on a write frame: compute each
        generated column the frame lacks; refuse a frame carrying one
        whose values diverge from the expression (null-safe compare —
        a generated column is a contract the table guarantees to every
        reader, so a writer may not override it)."""
        gen = meta.get("generated_cols") or {}
        for name, expr in gen.items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
                continue
            bad = df.filter(
                ~F.col(name).eqNullSafe(F.expr(expr))
            ).limit(1).collect()
            if bad:
                raise ValueError(
                    f"{op}: column {name!r} is GENERATED ALWAYS AS "
                    f"({expr}) — the incoming frame carries a diverging "
                    f"value: e.g. {bad[0]}"
                )
        return df

    def _identity_specs(self, meta: dict) -> dict[str, dict]:
        """Declared IDENTITY columns (row-tracking's ``_row_id``
        included) — name → {start, step, always}."""
        return meta.get("identity_cols") or {}

    def _identity_counters(self, meta: dict) -> dict[str, int]:
        """Allocation high watermarks: per identity column, how many
        values have ever been allocated (value = start + step·i for
        i < counter). Monotonic across the table's whole history —
        restore never reverts them, so resurrecting old rows can never
        collide with ids issued after the restore point."""
        nxt = meta.get("identity_next") or {}
        return {k: int(nxt.get(k, 0)) for k in self._identity_specs(meta)}

    def _managed_entry(
        self, df: DataFrame, op: str, meta: dict, add_missing: bool = True
    ) -> DataFrame:
        """The intake of a USER frame under ``meta``: GENERATED columns
        first (:meth:`_with_generated`), then IDENTITY / row-tracking —
        refuse a frame carrying a GENERATED ALWAYS AS IDENTITY column
        (the table allocates it — Delta refuses explicit inserts the
        same way; declare ``always=False`` for BY DEFAULT semantics),
        and add the managed columns the frame lacks as typed NULLs so
        downstream unions and schema checks align by name. The NULLs
        are filled by :meth:`_fill_identity` just before staging."""
        df = self._with_generated(df, op, meta)
        for name, spec in self._identity_specs(meta).items():
            if name in df.columns:
                if spec.get("always", True):
                    raise ValueError(
                        f"{op}: column {name!r} is GENERATED ALWAYS AS "
                        "IDENTITY — the table allocates it; drop the "
                        "column from the frame (or declare the "
                        "identity with always=False to allow explicit "
                        "values)"
                    )
                # BY DEFAULT: normalize the caller's type to the
                # column's declared int64 NOW, or the recorded schema
                # (computed from the pre-fill frame) and the staged
                # bytes (long after the fill's coalesce) would fork.
                # Only integral types upcast losslessly — anything
                # else is refused rather than silently NULLed by cast
                dt = df.schema[name].dataType.simpleString()
                if dt not in ("bigint", "int", "smallint", "tinyint"):
                    raise ValueError(
                        f"{op}: IDENTITY column {name!r} must arrive "
                        f"as an integral type (got {dt}) — identity "
                        "values are int64"
                    )
                if dt != "bigint":
                    df = df.withColumn(name, F.col(name).cast("long"))
            elif add_missing:
                df = df.withColumn(name, F.lit(None).cast("long"))
        return df

    def _fill_identity(
        self, df: DataFrame, meta: dict
    ) -> tuple[DataFrame, dict | None]:
        """Fill NULL identity values with freshly allocated ids →
        ``(df, meta_update | None)``; the caller attaches the
        meta_update (the bumped ``identity_next`` watermarks) to its
        committing record, making allocation atomic with the write.

        ``meta`` is the committing attempt's snapshot meta, so the
        watermark ``_identity_counters(meta)`` is exact for the version
        the record claims: a concurrent allocation lands first at that
        version and fails this commit into a retry against the new
        watermark — ids can never collide.

        Assignment is DETERMINISTIC given the frame and the watermark:
        per bucket, NULL rows take consecutive ids in (key, order)
        order, buckets laid out in ascending id ranges. Scale shape:
        ONE small aggregation job (per-bucket NULL/non-NULL counts —
        ≤ n_buckets rows collected) plus a per-bucket window
        row_number over the same partitioning ``_stage`` is about to
        repartition by; no global sort, no driver-side row data. Writers
        that reuse staged files across retries (append, replace_where)
        restage when the snapshot's counters or modulus moved."""
        specs = meta.get("identity_cols") or {}
        todo = [c for c in specs if c in df.columns]
        if not todo:
            return df, None
        if "_bucket" not in df.columns:
            raise AssertionError("_fill_identity requires a bucketed frame")
        # pin the frame: the per-bucket count job below and the later
        # stage job must see the SAME rows even for non-deterministic
        # frames (rand(), re-reads of mutating tables) — otherwise the
        # staged row_numbers run past the collected totals and the
        # committed watermark undercounts (the merge_into source-
        # pinning convention; replace_where's staged-bytes guard exists
        # for the same frame class)
        df = df.localCheckpoint(eager=False)
        counters = self._identity_counters(meta)
        aggs = [
            F.sum(F.col(c).isNull().cast("long")).alias(f"_n_{c}")
            for c in todo
        ] + [
            F.sum(F.col(c).isNotNull().cast("long")).alias(f"_p_{c}")
            for c in todo
        ]
        rows = df.groupBy("_bucket").agg(*aggs).collect()
        from pyspark.sql import Window

        key_order = [F.col(k) for k in meta["key_cols"]] + [
            F.col(meta["order_col"])
        ]
        new_next = dict(counters)
        any_alloc = False
        for c in todo:
            per = {
                int(r["_bucket"]): (
                    int(r[f"_n_{c}"] or 0),
                    int(r[f"_p_{c}"] or 0),
                )
                for r in rows
            }
            total = sum(n for n, _ in per.values())
            if total == 0:
                continue
            any_alloc = True
            start = int(specs[c].get("start", 1))
            step = int(specs[c].get("step", 1))
            c0 = counters[c]
            # combined per-bucket shift: cumulative NULL count of all
            # lower buckets MINUS this bucket's non-NULL count (the
            # window row_number counts non-NULL rows first)
            shift, run = {}, 0
            for b in sorted(per):
                shift[b] = run - per[b][1]
                run += per[b][0]
            smap = F.create_map(
                *[
                    x
                    for b in sorted(per)
                    for x in (F.lit(int(b)), F.lit(int(shift[b])))
                ]
            )
            # the common case (GENERATED ALWAYS, fresh appends) has the
            # column all-NULL: the isNull sort key is constant, so every
            # such column shares ONE window spec — Spark computes a
            # single sort for all of them instead of one per column
            all_null = all(p == 0 for _, p in per.values())
            w = Window.partitionBy("_bucket").orderBy(
                *key_order
            ) if all_null else Window.partitionBy("_bucket").orderBy(
                F.col(c).isNull().asc(), *key_order
            )
            # 64-bit literals: plain F.lit(int) is IntegerType, and
            # int32 arithmetic would wrap past 2^31 allocations or a
            # large start/step BEFORE the outer cast could save it
            fresh = (
                F.lit(start).cast("long")
                + F.lit(step).cast("long")
                * (
                    F.lit(c0).cast("long")
                    + smap[F.col("_bucket")]
                    + F.row_number().over(w)
                    - F.lit(1)
                )
            ).cast("long")
            df = df.withColumn(
                c, F.coalesce(F.col(c).cast("long"), fresh)
            )
            new_next[c] = c0 + total
        if not any_alloc:
            return df, None
        # identity_next replays as a wholesale dict replace — carry the
        # RETIRED entries forward (a dropped identity column keeps its
        # watermark so a restore across the drop resumes past it, never
        # re-issuing ids the resurrected rows already carry)
        full = dict(meta.get("identity_next") or {})
        full.update({k: int(v) for k, v in new_next.items()})
        return df, {"identity_next": full}

    @property
    def meta(self) -> dict:
        """Current table metadata. Keys/order/cdf/bloom are immutable
        (create-time), but ``n_buckets`` EVOLVES via :meth:`rebucket`
        — later commits may carry a ``meta_update`` patch, replayed in
        order over the create record (checkpoints snapshot the merged
        meta, so the replay is O(commits since checkpoint), like every
        other snapshot read)."""
        return self.meta_at(None)

    def meta_at(self, version: int | None) -> dict:
        target = self.latest_version() if version is None else version
        return _replay_log(self.table_dir, target).meta

    # properties the engine interprets structurally — never settable
    # through the free-form property surface
    _RESERVED_PROPS = frozenset((
        "key_cols", "order_col", "n_buckets", "cdf", "bloom_cols",
        "generated_cols", "checkpoint_interval", "identity_cols",
        "identity_next", "row_tracking", "partition_by",
        "column_mapping", "dropped_cols", "constraints", "protocol",
    ))

    def fsck(self, dry_run: bool = False, max_retries: int = 5):
        """Delta's ``FSCK REPAIR TABLE``: drop log references to live
        data files that are MISSING from storage (deleted out of band
        — a misfired cleanup job, a lost volume). Until repaired,
        every scan that touches a vanished file fails; after, the
        table serves the surviving rows. Returns the missing
        table-relative (or adopted absolute) paths; ``dry_run=True``
        only reports. The repair is a pure-removal commit, so history
        and time travel to pre-repair versions still reference the
        lost files (and fail if read — the honest answer); its change
        feed is EMPTY by definition, since the removed rows are
        unrecoverable (`_changes_for` special-cases the op)."""

        def attempt(snap: _Snapshot):
            missing = sorted(
                p for p, e in snap.live.items()
                if not os.path.exists(
                    e["path"]
                    if os.path.isabs(e["path"])
                    else os.path.join(self.table_dir, e["path"])
                )
            )
            if dry_run or not missing:
                return None, missing
            return {
                "op": "fsck",
                "remove": missing,
                "note": f"fsck dropped {len(missing)} missing",
            }, missing

        return self._transact(attempt, max_retries)

    def upgrade_protocol(
        self,
        min_reader: int | None = None,
        min_writer: int | None = None,
        max_retries: int = 5,
    ) -> int:
        """Delta's ``upgradeTableProtocol``: RAISE the table's
        required reader/writer versions (a one-way door — downgrades
        are refused, since an older engine may already have been
        fenced out and data written under the new rules). The engine
        performing the upgrade must itself satisfy the new bound."""
        cur = self.meta.get("protocol") or {}
        new = {
            "min_reader": int(
                min_reader
                if min_reader is not None
                else cur.get("min_reader", 1)
            ),
            "min_writer": int(
                min_writer
                if min_writer is not None
                else cur.get("min_writer", 1)
            ),
        }
        if (new["min_reader"] < int(cur.get("min_reader", 1))
                or new["min_writer"] < int(cur.get("min_writer", 1))):
            raise ValueError(
                "upgrade_protocol: protocol versions can only go up"
            )
        if (new["min_reader"] > self.READER_VERSION
                or new["min_writer"] > self.WRITER_VERSION):
            raise ValueError(
                "upgrade_protocol: this engine implements "
                f"({self.READER_VERSION}, {self.WRITER_VERSION}) and "
                "cannot require more than it supports"
            )
        return self._meta_commit(
            "upgrade_protocol", max_retries,
            meta_update={"protocol": new}, note=f"protocol -> {new}",
        )

    def _meta_commit(self, op: str, max_retries: int, **fields) -> int:
        """A metadata-only commit (no file added or removed) at the
        next version; returns that version."""

        def attempt(snap: _Snapshot):
            return {"op": op, **fields}, snap.version + 1

        return self._transact(attempt, max_retries)

    def set_properties(self, props: dict, max_retries: int = 5) -> int:
        """``ALTER TABLE ... SET TBLPROPERTIES`` — a metadata-only
        commit patching the table meta (``meta_update`` replay, the
        rebucket mechanism). Structural keys are refused: properties
        must never mutate what the engine derives the layout from.
        Engine-interpreted free properties today:
        ``auto_compact_files`` (int — see ``_after_data_commit``) and
        ``auto_compact_target_bytes``."""
        bad = set(props) & self._RESERVED_PROPS
        if bad:
            raise ValueError(
                f"set_properties: {sorted(bad)} are structural — use "
                "the dedicated DDL (rebucket/add_constraint/...)"
            )
        return self._meta_commit(
            "set_properties", max_retries,
            meta_update=dict(props), note=f"set {sorted(props)}",
        )

    def unset_properties(self, names, max_retries: int = 5) -> int:
        """``ALTER TABLE ... UNSET TBLPROPERTIES`` — removes free
        properties from the merged meta (``meta_unset`` replay);
        structural keys refused like :meth:`set_properties`."""
        names = list(names)
        bad = set(names) & self._RESERVED_PROPS
        if bad:
            raise ValueError(
                f"unset_properties: {sorted(bad)} are structural"
            )
        return self._meta_commit(
            "unset_properties", max_retries,
            meta_unset=names, note=f"unset {sorted(names)}",
        )

    def _after_data_commit(self, snap: _Snapshot, record: dict) -> None:
        """Post-commit hook on the high-frequency write paths (append
        / merge_upsert / merge_into): Delta autoCompact. When the
        property ``auto_compact_files`` is set and some bucket's live
        file count has reached it, run a size-aware partial compaction
        (``compact(target_bytes=...)`` — rewrite cost ∝ fragmented
        bytes only) as a separate, best-effort follow-up commit. The
        DATA commit's success is already durable; losing the compaction
        race to a concurrent writer just defers the cleanup to the next
        write. Properties come from ``snap`` (the snapshot the commit
        was built on) and the live set is ``snap.live`` minus
        ``remove`` plus ``add`` — no second fold. Without the property
        (the default) the hook is one dict lookup."""
        n = int(snap.meta.get("auto_compact_files") or 0)
        if not n:
            return
        tb = int(snap.meta.get("auto_compact_target_bytes") or (128 << 20))
        removed = set(record["remove"])
        live = [
            e for p, e in snap.live.items() if p not in removed
        ] + list(record["add"])
        # count only files SMALLER than the target (the ones compaction
        # would touch) — a bucket of already-compact files must not
        # re-trigger no-op attempts on every subsequent write
        counts: dict = {}
        for e in live:
            if not e.get("bytes") or int(e["bytes"]) < tb:
                counts[e["bucket"]] = counts.get(e["bucket"], 0) + 1
        if counts and max(counts.values()) >= n:
            try:
                self.compact(target_bytes=tb)
            except ConcurrentWriteError:
                pass  # advisory: next write retries the cleanup

    def _transact(
        self,
        attempt,
        max_retries: int = 5,
        txn: dict | None = None,
        auto_compact: bool = False,
    ):
        """The ONE post-create commit path, the one optimistic retry
        loop, and the one place a commit record is finished. Each
        attempt folds the log ONCE — ``snap = _replay_log(table_dir)`` —
        and calls ``attempt(snap)``, which returns ``(record, result)``:
        ``record`` is the commit's op and payload, or None to return
        ``result`` with no commit (nothing to do). The attempt body and
        every helper it calls take meta, constraints, live files,
        deletion vectors and schema from that one snapshot, never from a
        second fold — so any commit landing after the fold claims the
        version first and fails this attempt into a retry.

        The envelope is decided here, against ``snap``: ``version`` is
        ``snap.version + 1`` and ``add``/``remove`` default to ``[]``;
        with ``txn = {"app_id", "batch_id"}`` a batch at or below
        ``snap``'s mark for ``app_id`` already landed, so ``snap.version``
        returns WITHOUT calling ``attempt`` — otherwise the record
        carries ``txn``, and a concurrent commit of the same batch wins
        the version race and the retry sees its mark; on a ``cdf=True``
        table a record that rewrites rows (``txstream._rewrites_rows``)
        gets its change files staged (``_stage_cdf``).

        The record passes the write-protocol check against
        ``snap.meta``, then publishes with the atomic log link; losing
        the version race (:class:`ConcurrentWriteError`) re-folds and
        calls ``attempt`` again against the winner's snapshot — any
        files a lost attempt staged stay orphaned until vacuum — and
        after ``max_retries`` lost races the last ConcurrentWriteError
        is re-raised unchanged. Every other exception (validation,
        constraint, protocol) propagates at once.

        A won commit then runs the auto-checkpoint cadence
        (``checkpoint_interval`` from the winning snapshot's meta; a
        failed checkpoint never fails the committed write — it is
        DERIVED data, and losing one costs replay time until the next
        interval commit) and, with ``auto_compact``, the advisory hook
        ``_after_data_commit(snap, record)``. The only other
        ``_atomic_commit`` caller is :meth:`create` (v1)."""
        if max_retries < 1:
            raise ValueError("max_retries must be >= 1")
        for _ in range(max_retries):
            snap = _replay_log(self.table_dir, self.latest_version())
            if txn and int(txn["batch_id"]) <= snap.txns.get(
                txn["app_id"], -1
            ):
                return snap.version  # replayed batch — already landed
            record, result = attempt(snap)
            if record is None:
                return result
            record = {
                "version": snap.version + 1, "add": [], "remove": [],
                **record,
            }
            if txn:
                record["txn"] = txn
            if snap.meta.get("cdf"):
                from kafka_flink_harshevents_spark.sources.txstream import (
                    _rewrites_rows,
                )

                if _rewrites_rows(record):
                    record["cdf_files"] = self._stage_cdf(record, snap)
            self._check_protocol("write", snap.meta)
            try:
                _atomic_commit(self.table_dir, record["version"], record)
            except ConcurrentWriteError as exc:
                last = exc
                continue
            ci = int(snap.meta.get("checkpoint_interval") or 0)
            if ci and record["version"] % ci == 0:
                try:
                    self.checkpoint()
                except (OSError, ValueError):
                    pass
            if auto_compact:
                self._after_data_commit(snap, record)
            return result
        raise last

    # -- snapshots ---------------------------------------------------

    def latest_version(self) -> int:
        versions = _list_versions(self.table_dir)
        if not versions:
            raise FileNotFoundError(f"no transaction log at {self.table_dir}")
        return versions[-1]

    def _snapshot(self, version: int | None = None) -> tuple[int, list[dict], str | None]:
        """Replay the log → (version, live add-entries, schema json).

        Starts from the newest CHECKPOINT ≤ target when one exists
        (``checkpoint()``), so replay cost is O(commits since the last
        checkpoint), not O(log length) — the Delta ``_last_checkpoint``
        mechanism. Without one, full replay (correct at any length,
        just slower past ~10⁴ commits). The 3-tuple view of
        :func:`_replay_log`."""
        target = self.latest_version() if version is None else version
        snap = _replay_log(self.table_dir, target)
        return snap.version, list(snap.live.values()), snap.schema_json

    def checkpoint(self) -> int:
        """Materialize the current live-file list as a log checkpoint so
        later snapshots replay from it instead of from version 1 —
        Delta's checkpoint-parquet trick (JSON here; the shape, not the
        format, is the point). Idempotent and race-safe: the content is
        a pure function of the version, so concurrent writers produce
        identical bytes and either rename winning is correct."""
        # one replay from the previous checkpoint yields every field,
        # so checkpointing itself stays O(commits since last)
        snap = _replay_log(self.table_dir, self.latest_version())
        v = snap.version
        # the copied set lives in its own incrementally-compacted side
        # structure (delta segments + periodic fold), NOT in the
        # checkpoint body: embedding the cumulative set made every
        # checkpoint write O(total files ever copied) — at a 10⁶-file
        # landing history that is ~100 MB re-serialized per checkpoint.
        # Here each checkpoint writes only the delta since the last
        # segment (O(new paths)), and every _COPIED_FOLD_EVERY-th
        # segment folds the chain into one base — amortized
        # O(total / FOLD_EVERY), with reads unioning ≤ FOLD_EVERY
        # files. A pre-segment checkpoint's embedded "copied" field is
        # migrated into the first segment written here.
        self._checkpoint_copied(v)
        path = os.path.join(
            self.table_dir, _LOG_DIR, f"chk-{v:0{_PAD}d}.json"
        )
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "version": v,
                    "live": list(snap.live.values()),
                    "schema_json": snap.schema_json,
                    "dvs": {p: sorted(s) for p, s in snap.dvs.items()},
                    # merged meta / constraints / txn marks as of v, so
                    # meta_at(), constraints() and last_committed_batch()
                    # replay from here instead of walking every record
                    "meta": snap.meta,
                    "constraints": snap.constraints,
                    "txns": snap.txns,
                },
                f,
            )
        os.replace(tmp, path)
        return v

    def _checkpoint_copied(self, v: int) -> None:
        """Advance the copied-set side structure to version ``v``:
        write the delta segment (paths copied in commits after the
        current floor), folding the whole chain into one base segment
        every ``_COPIED_FOLD_EVERY`` segments. Race-safe: segments
        publish via create-if-absent (one winner per version name),
        and a fold deletes its inputs only after ITS link won — a
        concurrent delta-writer losing the name keeps the winner's
        bytes, and unions over any surviving subset stay correct
        because segment ranges always cover (0, floor]."""
        segs = [
            (sv, p) for sv, p in _copied_segments(self.table_dir)
            if sv <= v
        ]
        if segs:
            floor, seed = max(sv for sv, _ in segs), set()
        else:  # a pre-segment checkpoint's embedded set, if any
            floor, seed = _copied_base(self.table_dir, v)
        if floor >= v and segs:
            return  # already current
        delta = seed
        for vv in _list_versions(self.table_dir):
            if floor < vv <= v:
                for e in _read_record(self.table_dir, vv).get(
                    "copied_files", ()
                ):
                    delta.add(e["path"])
        # ALWAYS advance the floor, even on an empty delta: a segment
        # is ~100 bytes, and a frozen floor would make this scan — and
        # every copied_files() read — re-walk all records since the
        # last copy event forever (O(total commits) per checkpoint on
        # a table that copied once and then only appended). With the
        # floor tracking the checkpoint cadence, both scans stay
        # O(checkpoint interval).
        if len(segs) + 1 >= _COPIED_FOLD_EVERY:
            # fold: one base segment with the full union ≤ v (a pure
            # function of the log, so any winner's bytes are right)
            bfloor, base_union = _copied_base(self.table_dir, v)
            if segs and bfloor == 0 and not base_union:
                # fold inputs vanished: a concurrent fold at a HIGHER
                # version w consumed every segment ≤ v between our
                # listing and this read (its base segment sits at w,
                # above our target). A base-0 segment built from this
                # empty floor would falsely claim full (0, v] coverage
                # and hand readers targeting [v, w) an incomplete skip
                # set — publish the ordinary delta against the floor we
                # listed instead; history stays covered by the higher
                # fold.
                _copied_write_segment(self.table_dir, v, floor, delta)
                return
            if _copied_write_segment(
                self.table_dir, v, 0, base_union | delta
            ):
                for _sv, p in segs:
                    try:
                        os.unlink(p)
                    except FileNotFoundError:
                        pass
        else:
            _copied_write_segment(self.table_dir, v, floor, delta)

    def clone_to(
        self, dest_dir: str, version: int | None = None
    ) -> "TxTable":
        """SHALLOW CLONE — a new, independently-writable table whose
        initial commit REFERENCES this table's live files (absolute
        paths) instead of copying them: a zero-copy dev/test snapshot
        of a 100 TB production table, created in O(metadata). The
        clone carries the source's schema, meta (keys/buckets/cdf/
        bloom), and the deletion vectors in force at ``version``
        (keyed by path suffix — the read join normalizes, so vectors
        keep masking through the absolute references).

        Independence: every WRITE to the clone stages files under the
        clone's own directory; merges/deletes rewrite touched source
        references into clone-local files, and ``compact()`` fully
        DETACHES it (no absolute reference survives a full rewrite).
        The source is never modified. The one documented hazard is
        Delta's own: ``vacuum`` on the SOURCE can reclaim files a
        clone still references — clones are snapshots for dev/test,
        not replicas. (The clone's own vacuum only scans clone-local
        ``_staged-*`` trees, so it can never reclaim source files.)

        The clone commit is not an append: a stream over the clone
        should start past it (``startingversion``), exactly like a
        RESTORE."""
        src_v, live_map, schema_json, dvs, m, *_ = _replay_log(
            self.table_dir, version
        )
        cls_row_id = self._ROW_ID
        dest = TxTable.create(
            self.spark,
            dest_dir,
            key_cols=tuple(m["key_cols"]),
            order_col=m["order_col"],
            n_buckets=int(m["n_buckets"]),
            cdf=bool(m.get("cdf")),
            bloom_cols=tuple(m.get("bloom_cols") or ()),
            # GENERATED ALWAYS AS is part of the table contract the
            # clone inherits: without it, writes to the clone would
            # silently stop computing/enforcing the column
            generated_cols=m.get("generated_cols") or None,
            # identity/row-tracking rules travel too — and the
            # WATERMARK is inherited below, so ids the clone issues
            # never collide with the ids in its cloned rows
            identity_cols={
                k: v
                for k, v in (m.get("identity_cols") or {}).items()
                if k != cls_row_id
            }
            or None,
            row_tracking=bool(m.get("row_tracking")),
            # the partition layout is a table contract too: writes to
            # the clone must keep splitting files per partition tuple,
            # and the cloned entries' `part` values keep pruning exact
            partition_by=tuple(m.get("partition_by") or ()),
        )
        entries = []
        for e in live_map.values():
            e2 = dict(e)
            e2["path"] = os.path.abspath(
                os.path.join(self.table_dir, e["path"])
            )
            entries.append(e2)
        record = {
            "op": "clone",
            "add": entries,
            "schema_json": schema_json,
            "note": f"shallow clone of {self.table_dir}@{src_v}",
        }
        if dvs:
            record["dv_full"] = {
                os.path.abspath(os.path.join(self.table_dir, p)): sorted(v)
                for p, v in dvs.items()
            }
        inherit_meta = {}
        if m.get("identity_cols"):
            inherit_meta["identity_next"] = {
                k: int((m.get("identity_next") or {}).get(k, 0))
                for k in m["identity_cols"]
            }
        if m.get("dropped_cols"):
            # retired names must stay retired IN THE CLONE: its
            # referenced files still physically carry the dropped
            # column, so re-adding the name there would resurrect the
            # same stale values the source guards against
            inherit_meta["dropped_cols"] = list(m["dropped_cols"])
        if m.get("column_mapping"):
            # the clone references the source's PHYSICAL files — it
            # must resolve renamed columns through the same mapping
            inherit_meta["column_mapping"] = dict(m["column_mapping"])
        if inherit_meta:
            record["meta_update"] = inherit_meta
        dest._transact(_fresh_v2(dest_dir, "clone_to", record))
        return dest

    @classmethod
    def convert_from_parquet(
        cls,
        spark: SparkSession,
        source_dir: str,
        table_dir: str,
        key_cols: tuple[str, ...],
        order_col: str,
        n_buckets: int = 16,
        cdf: bool = False,
        bloom_cols: tuple[str, ...] = (),
        checkpoint_interval: int | None = 10,
    ) -> "TxTable":
        """CONVERT an existing parquet directory into a transactional
        table WITHOUT rewriting a byte — Delta's ``CONVERT TO DELTA``:
        the adoption commit REFERENCES the source files (absolute
        paths, the shallow-clone mechanism) with per-file footer stats,
        so time travel, ACID writes, data skipping, and streaming all
        work immediately, and the convert itself costs two footer
        reads per file (one schema-union pass, one stats pass) — still
        zero data reads.

        Adopted files carry ``bucket = -1`` ("spans every bucket"):
        keyed writes treat them as always-touched, so correctness never
        depends on a layout the files were not written under — run
        ``compact()`` (or ``rebucket``) after converting to adopt the
        hash-bucketed layout; until then each keyed write rewrites the
        unadopted files it cannot prove untouched (stats pruning still
        applies to DELETE/UPDATE/replace_where). The source directory
        must then not be modified externally (the clone hazard:
        vacuum/compact may leave or drop references; the log is the
        only truth).

        HIVE-PARTITIONED sources are adopted zero-copy too: the
        partition COLUMNS are inferred from the ``col=value`` directory
        names (types: long if every value parses as an integer, date if
        every value is an ISO date, else string), each adopted file's
        exact partition values land in its add-entry (``part`` — so
        partition pruning works from commit one), and the table is
        created ``partition_by`` those columns. Hive keeps partition
        values OUT of the data files, so adopted entries are flagged
        ``pfill`` and every library read coalesces the value back in
        from the log (Delta's log-supplied partition-value read);
        ``compact()``/``rebucket()`` materialize the columns into
        rewritten files and the flag disappears. Until then the
        DataSource/streaming readers refuse the table (their per-file
        Arrow readers have no log-side fill) — run ``compact()`` first.
        Hive's directory encoding cannot distinguish NULL from empty
        string; both adopt as NULL (the hive/Delta convention).

        Refused: source schemas carrying reserved names (``_bucket``,
        ``_row_id``), or missing the key/order columns (counting
        inferred partition columns).
        ``row_tracking``/``identity_cols``/``generated_cols`` are not
        offered — adopted files cannot already carry library-managed
        columns (declare them on a fresh table and ``copy_into``
        instead)."""
        files = []
        fparts: list[list[tuple[str, str]]] = []  # per-file (col, token)
        for root, dirs, names in os.walk(source_dir):
            # prune hidden/metadata directories FIRST (a Delta source's
            # _delta_log checkpoints are parquet too — adopting them
            # would turn table METADATA into data rows), THEN read the
            # partition structure off the survivors — a pruned
            # .hive-staging_…=… tree must not register as partitioning
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            rel = os.path.relpath(root, source_dir)
            comps = [] if rel == "." else rel.split(os.sep)
            # `name=value` components are hive partition pairs; plain
            # directory names are mere grouping (a multi-job landing
            # layout) and carry no values
            pairs = [
                (c.partition("=")[0], c.partition("=")[2])
                for c in comps
                if "=" in c
            ]
            for nm in names:
                if nm.endswith(".parquet") and not nm.startswith(
                    ("_", ".")
                ):
                    files.append(os.path.abspath(os.path.join(root, nm)))
                    fparts.append(pairs)
        if not files:
            raise FileNotFoundError(
                f"convert_from_parquet: no parquet files under "
                f"{source_dir!r}"
            )
        # CONSISTENT partition column sequence across every file (the
        # hive contract) — [] for an unpartitioned source
        part_cols = [n for n, _ in fparts[0]]
        for f, pr in zip(files, fparts):
            if [n for n, _ in pr] != part_cols:
                raise ValueError(
                    "convert_from_parquet: inconsistent partition "
                    f"directory structure — {f!r} carries "
                    f"{[n for n, _ in pr]}, expected {part_cols}"
                )
        bad = [n for n in part_cols if n.startswith(("_", "."))]
        if bad:
            raise ValueError(
                f"convert_from_parquet: partition column(s) {bad} "
                "carry reserved (underscore/dot) names"
            )
        # type inference per partition column over the non-null tokens
        ptypes: dict[str, str] = {}
        for i, n in enumerate(part_cols):
            toks = {
                pr[i][1] for pr in fparts if pr[i][1] != _HIVE_NULL
            }
            ptypes[n] = _infer_part_type(toks)
        sfx = {}
        for f in files:
            other = sfx.setdefault(_path_sfx(f), f)
            if other != f:
                # readers and DV application key files by their
                # 3-component path suffix — two adopted files sharing
                # one would cross-apply deletion vectors; refuse at the
                # source instead of corrupting reads later
                raise ValueError(
                    "convert_from_parquet: source files collide on "
                    f"their 3-component path suffix ({other!r} vs "
                    f"{f!r}) — flatten or rename the source layout"
                )
        # mergeSchema: heterogeneous source footers (add-column
        # evolution in the source) must union, or columns absent from
        # the sampled footer would be silently hidden forever (the
        # recorded schema is the read authority)
        schema = (
            spark.read.option("mergeSchema", "true")
            .parquet(*sorted(files))
            .schema
        )
        names = {f.name for f in schema.fields}
        reserved = {n for n in names if n.startswith("_")}
        if reserved:
            raise ValueError(
                f"convert_from_parquet: source carries reserved "
                f"column name(s) {sorted(reserved)}"
            )
        clash = names & set(part_cols)
        if clash:
            raise ValueError(
                f"convert_from_parquet: partition directory column(s) "
                f"{sorted(clash)} also exist INSIDE the data files — "
                "ambiguous source of truth; rename one"
            )
        # recorded schema = file columns + the inferred partition
        # columns appended (hive keeps the values out of the files;
        # reads fill them from the log until a rewrite materializes)
        _PT = {"long": LongType(), "date": DateType(),
               "string": StringType()}
        schema = StructType(
            list(schema.fields)
            + [StructField(n, _PT[ptypes[n]]) for n in part_cols]
        )
        names = names | set(part_cols)
        missing = (set(key_cols) | {order_col}) - names
        if missing:
            raise ValueError(
                f"convert_from_parquet: source schema lacks key/order "
                f"column(s) {sorted(missing)} — columns are "
                f"{sorted(names)}"
            )
        if _list_versions(table_dir):
            # an EXISTING table (even a never-written create) would
            # keep ITS key/bucket meta and silently ignore this call's
            # — refuse anything but a virgin directory
            raise ValueError(
                f"convert_from_parquet: {table_dir} already holds a "
                "transaction log"
            )
        t = cls.create(
            spark,
            table_dir,
            key_cols=key_cols,
            order_col=order_col,
            n_buckets=n_buckets,
            cdf=cdf,
            bloom_cols=bloom_cols,
            checkpoint_interval=checkpoint_interval,
            partition_by=tuple(part_cols),
        )
        if _list_versions(table_dir) != [1]:
            raise ValueError(
                f"convert_from_parquet: {table_dir} is not a fresh "
                "table directory"
            )
        entries = []
        for f, pr in sorted(zip(files, fparts)):
            e = _add_entry(table_dir, f, -1)
            # _add_entry relativizes against the table dir; adopted
            # files live OUTSIDE it — reference them absolutely, the
            # clone convention (os.path.join passes absolutes through)
            e["path"] = os.path.abspath(
                os.path.join(table_dir, e["path"])
            )
            if part_cols:
                part = {}
                for n, tok in pr:
                    v = _part_scalar_of_dir(tok, ptypes[n])
                    if v is None and ptypes[n] == "string":
                        # hive's token can't tell NULL from "" — adopt
                        # as null but record nothing skippable
                        continue
                    part[n] = v
                e["part"] = part
                # files physically LACK the partition columns — flag
                # for log-side fill on every read until a rewrite
                e["pfill"] = True
                cols = e.setdefault("stats", {}).setdefault("cols", {})
                for c, v in part.items():
                    if v is not None and c not in cols:
                        cols[c] = [v, v, 0]
            entries.append(e)
        t._transact(_fresh_v2(table_dir, "convert_from_parquet", {
            "op": "convert",
            "add": entries,
            "schema_json": schema.json(),
            "note": f"convert {len(entries)} parquet files from "
                    f"{source_dir}",
        }))
        return t

    def restore(self, version: int, max_retries: int = 5) -> int:
        """RESTORE TO VERSION — roll the live state back to an earlier
        snapshot as a NEW commit (history is append-only; nothing is
        rewritten, so the bad period stays auditable and time travel
        still reaches it). Fails if vacuum already reclaimed any file
        the target snapshot references — the same irreversibility Delta
        documents.

        The commit is a generic rewrite (add = files to resurrect,
        remove = files the rollback drops), so CDF derives the row-level
        undo and the streaming source refuses it like any non-append
        change.

        SCHEMA-COUPLED meta reverts with the data: ``n_buckets`` (the
        resurrected files carry bucket labels under the modulus in
        force at the target — keeping a later rebucket's modulus would
        silently mis-route merges), ``column_mapping``, ``dropped_cols``
        and ``generated_cols`` (the restored schema may re-expose names
        a later rename/drop retired — stale guards would refuse every
        write matching the table's own restored schema). Governance
        meta (CHECK constraints) is NOT reverted — Delta's RESTORE
        position: data rolls back, table properties stay.
        """
        _SCHEMA_META = (
            # identity_cols reverts WITH the schema (a restore across a
            # drop re-exposes the column, so its allocation rule must
            # come back too) — but identity_next NEVER reverts: the
            # watermark is monotonic for the table's whole history, so
            # ids issued after a restore can't collide with rows any
            # snapshot (live or time-traveled) already carries.
            "n_buckets", "column_mapping", "dropped_cols",
            "generated_cols", "identity_cols",
        )

        # the target snapshot is immutable history: fold it once, not
        # per attempt
        _, old_live_map, old_schema, old_dvs, old_meta, *_ = _replay_log(
            self.table_dir, version
        )

        def attempt(snap: _Snapshot):
            base_v, cur_live_map, cur_schema, cur_dvs, cur_meta, *_ = snap
            cur_live = list(cur_live_map.values())
            if not 1 <= version <= base_v:
                raise ValueError(
                    f"cannot restore to {version}: log spans 1..{base_v}"
                )
            cur_names = (
                {f.name for f in
                 StructType.fromJson(json.loads(cur_schema)).fields}
                if cur_schema else set()
            )
            restored_names = (
                {f.name for f in
                 StructType.fromJson(json.loads(old_schema)).fields}
                if old_schema else set()
            )
            # constraints are governance and survive the restore — but
            # one referencing a column the restored schema LACKS would
            # fail every subsequent write; refuse up front (the same
            # drop-the-rule-first position as rename/drop_columns)
            for cname, expr in snap.constraints.items():
                gone = [
                    c for c in cur_names - restored_names
                    if _expr_mentions(expr, c)
                ]
                if gone:
                    raise ValueError(
                        f"cannot restore to {version}: constraint "
                        f"{cname} ({expr}) references column(s) "
                        f"{sorted(gone)} the restored schema lacks — "
                        "drop the constraint first"
                    )
            old_live = list(old_live_map.values())
            missing = [
                e["path"]
                for e in old_live
                if not os.path.exists(os.path.join(self.table_dir, e["path"]))
            ]
            if missing:
                raise ValueError(
                    f"cannot restore to {version}: vacuum reclaimed "
                    f"{len(missing)} referenced file(s), e.g. {missing[0]}"
                )
            cur_paths = {e["path"] for e in cur_live}
            old_paths = {e["path"] for e in old_live}
            record = {
                "op": "restore",
                "add": [e for e in old_live if e["path"] not in cur_paths],
                "remove": sorted(cur_paths - old_paths),
                "schema_json": old_schema,
                "restored_version": version,
            }
            # _replay_log yields dict[str, set] on both sides — direct
            # comparison, no normalization needed
            if old_dvs != cur_dvs:
                # absolute DV state of the target snapshot — replay
                # replaces, so vectors added (or materialized) after
                # the target roll back with the data. Recorded ONLY
                # when the state actually changes: replay keeps the
                # (equal) current state either way, and the streaming
                # planner treats dv_full key-presence as a data change
                # — an unconditional key would make a no-op restore
                # (idempotent recovery re-run) kill a tailing stream
                record["dv_full"] = {
                    p: sorted(s) for p, s in old_dvs.items()
                }
            revert = {
                k: old_meta.get(k)
                for k in _SCHEMA_META
                if cur_meta.get(k) != old_meta.get(k)
            }
            if revert:
                record["meta_update"] = revert
            if cur_meta.get("cdf"):
                # cdf=True tables materialize EVERY rewrite's feed —
                # restore included, or the DataSource change-feed
                # consumers hard-fail at this commit. A restore whose
                # endpoints differ in column set OR TYPE has no
                # representable row-level feed (the Delta position:
                # CDF ranges cannot cross schema changes) — refuse.
                # Types matter as much as names: a restore across a
                # type widening (same names, long→int) would diff a
                # long-typed pre frame against an int-typed post frame
                # and stage change files whose values overflow the
                # restored narrow schema.
                def _typed(sj: str | None) -> set:
                    if sj is None:
                        return set()
                    return {
                        (f.name, f.dataType.simpleString())
                        for f in StructType.fromJson(json.loads(sj)).fields
                    }

                cur_t, old_t = _typed(cur_schema), _typed(old_schema)
                if cur_t != old_t:
                    raise ValueError(
                        f"cannot restore to {version} on a cdf=True "
                        "table across a schema change "
                        f"({sorted(c for c, _ in cur_t ^ old_t)} "
                        "differ in name or type) — the change feed "
                        "cannot represent it; drop-column/rename/"
                        "widening history must be restored on non-CDF "
                        "tables"
                    )
            return record, base_v + 1

        return self._transact(attempt, max_retries)

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY — one row per commit, newest first:
        version, op, commit timestamp (epoch seconds + ISO string),
        files added/removed, DV'd positions, predicate (deletes/
        updates), txn marker, and note (rebucket/zorder). The audit
        surface time travel navigates by; reads only the log records
        (no data files)."""
        rows = []
        for v in _list_versions(self.table_dir):
            rec = _read_record(self.table_dir, v)
            txn = rec.get("txn") or {}
            rows.append((
                v,
                rec.get("op", "create" if v == 1 else None),
                float(rec["ts"]) if rec.get("ts") is not None else None,
                (
                    datetime.datetime.fromtimestamp(
                        float(rec["ts"]), tz=datetime.timezone.utc
                    ).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
                    if rec.get("ts") is not None
                    else None
                ),
                len(rec.get("add", [])),
                len(rec.get("remove", [])),
                sum(len(p) for p in (rec.get("dv") or {}).values()),
                rec.get("predicate"),
                txn.get("app_id"),
                int(txn["batch_id"]) if "batch_id" in txn else None,
                rec.get("note"),
            ))
        return self.spark.createDataFrame(
            list(reversed(rows)),
            "version long, op string, ts double, ts_iso string, "
            "files_added int, files_removed int, dv_positions long, "
            "predicate string, txn_app string, txn_batch long, "
            "note string",
        )

    def drop_columns(self, cols: tuple[str, ...]) -> int:
        """ALTER TABLE DROP COLUMN — METADATA-ONLY: one commit records
        the narrowed schema; no data file is touched (the log is the
        schema authority, so every reader projects the column out —
        the physical bytes age out as rewrites/compactions naturally
        restage files). Time travel before the commit still sees the
        column.

        Key/order columns are undroppable; a column any CHECK
        constraint mentions must be un-constrained first. Dropping a
        GENERATED column retires its generation rule with it (the
        commit's ``meta_update`` narrows ``generated_cols``, so later
        writes stop computing it); dropping a BASE column a surviving
        generated expression references is refused — the rule would be
        uncomputable and every subsequent write would fail. The dropped
        NAME is retired permanently (``meta.dropped_cols``): re-adding
        it would RESURRECT stale values from old files that still
        physically carry it — refusing is the Delta position absent
        column-mapping physical ids."""
        cols = tuple(cols)

        def attempt(snap: _Snapshot):
            # Validation runs INSIDE each attempt against its snapshot:
            # a concurrent commit (e.g. another drop_columns retiring a
            # different generated column, or add_constraint) must be
            # re-checked on retry, or the losing writer would commit a
            # meta_update built from its stale pre-race snapshot.
            v, meta, snap_schema = snap.version, snap.meta, snap.schema_json
            protected = set(meta["key_cols"]) | {meta["order_col"]}
            badp = set(cols) & set(meta.get("partition_by") or ())
            if badp:
                raise ValueError(
                    f"cannot drop partition column(s) {sorted(badp)} — "
                    "the physical layout and every add-entry's pruning "
                    "values are keyed by them (Delta refuses the same)"
                )
            bad = set(cols) & protected
            if bad:
                raise ValueError(
                    f"cannot drop key/order column(s) {sorted(bad)}"
                )
            for name, expr in snap.constraints.items():
                hit = [c for c in cols if _expr_mentions(expr, c)]
                if hit:
                    raise ValueError(
                        f"column(s) {hit} are referenced by constraint "
                        f"{name} ({expr}) — drop the constraint first"
                    )
            if meta.get("row_tracking") and self._ROW_ID in cols:
                raise ValueError(
                    "cannot drop _row_id on a row_tracking table — it "
                    "IS the feature; row tracking is create-time"
                )
            gen = dict(meta.get("generated_cols") or {})
            surviving_gen = {
                n: e for n, e in gen.items() if n not in cols
            }
            for name, expr in surviving_gen.items():
                hit = [c for c in cols if _expr_mentions(expr, c)]
                if hit:
                    raise ValueError(
                        f"column(s) {hit} are referenced by GENERATED "
                        f"column {name} ({expr}) — drop the generated "
                        "column in the same call or not at all"
                    )
            gen_changed = surviving_gen != gen
            ident = dict(meta.get("identity_cols") or {})
            surviving_ident = {
                n: s for n, s in ident.items() if n not in cols
            }
            ident_changed = surviving_ident != ident
            if snap_schema is None:
                raise ValueError("no recorded schema to drop from")
            old = StructType.fromJson(json.loads(snap_schema))
            missing = set(cols) - {f.name for f in old.fields}
            if missing:
                raise ValueError(
                    f"column(s) {sorted(missing)} not in table schema"
                )
            narrowed = StructType(
                [f for f in old.fields if f.name not in cols]
            )
            dropped = sorted(
                set(meta.get("dropped_cols") or ()) | set(cols)
            )
            meta_update: dict = {"dropped_cols": dropped}
            if gen_changed:
                meta_update["generated_cols"] = surviving_gen
            if ident_changed:
                # dropping an identity column retires its allocation
                # rule (the generated_cols convention); the watermark
                # entry stays — names are retired permanently anyway
                meta_update["identity_cols"] = surviving_ident
            record = {
                "op": "drop_columns",
                "schema_json": narrowed.json(),
                "meta_update": meta_update,
                "note": f"drop columns {sorted(cols)}",
            }
            return record, v + 1

        return self._transact(attempt)

    def add_columns(
        self, cols: dict[str, str], max_retries: int = 5
    ) -> int:
        """ALTER TABLE ADD COLUMN(S) — METADATA-ONLY: one commit
        records the WIDENED schema (``cols`` maps name → Spark DDL
        type string); no data file is touched. Existing files
        NULL-fill the new columns at read — exactly the read-path
        contract schema-evolving writes (``merge_schema=True``)
        already rely on, now available WITHOUT a data batch (declare
        the column first, backfill with ``update_where`` later — the
        Delta workflow). Streams/CDF treat the commit as the no-data
        metadata change it is.

        Refused: names that already exist, reserved (underscore)
        names, RETIRED names (``dropped_cols`` — re-adding would
        resurrect stale values from old files that still physically
        carry them), and any PHYSICAL name a rename retired (two
        columns would share one parquet name). Types must parse as
        Spark DDL."""
        if not cols:
            raise ValueError("add_columns: no columns given")
        try:
            added = StructType.fromDDL(
                ", ".join(f"`{n}` {t}" for n, t in cols.items())
            )
        except Exception as exc:
            raise ValueError(
                f"add_columns: unparseable column spec {cols!r}: {exc}"
            ) from exc

        def attempt(snap: _Snapshot):
            v, meta, snap_schema = snap.version, snap.meta, snap.schema_json
            if snap_schema is None:
                raise ValueError(
                    "add_columns: the table has no recorded schema "
                    "yet — append a first (possibly empty) batch or "
                    "CREATE TABLE with a column list"
                )
            logical = StructType.fromJson(json.loads(snap_schema))
            names = {f.name.lower() for f in logical.fields}
            dropped = {
                c.lower() for c in (meta.get("dropped_cols") or ())
            }
            physical = {
                ph.lower()
                for ph in (meta.get("column_mapping") or {}).values()
            }
            for n in cols:
                if n.startswith("_"):
                    raise ValueError(
                        f"add_columns: {n!r} is reserved (underscore)"
                    )
                if n.lower() in names:
                    raise ValueError(
                        f"add_columns: column {n!r} already exists"
                    )
                if n.lower() in dropped:
                    raise ValueError(
                        f"add_columns: {n!r} was dropped — re-adding "
                        "would resurrect stale values from old files "
                        "that still physically carry it"
                    )
                if n.lower() in physical:
                    raise ValueError(
                        f"add_columns: {n!r} is the PHYSICAL name of "
                        "a renamed column — new files would carry two "
                        "columns with one parquet name"
                    )
            record = {
                "op": "add_columns",
                "schema_json": StructType(
                    list(logical.fields) + list(added.fields)
                ).json(),
                "note": f"add columns {sorted(cols)}",
            }
            return record, v + 1

        return self._transact(attempt, max_retries)

    def rename_column(
        self, old: str, new: str, max_retries: int = 5
    ) -> int:
        """ALTER TABLE RENAME COLUMN via COLUMN MAPPING — METADATA-ONLY
        (Delta's columnMapping name-mode contract): one commit records
        the schema under the new LOGICAL name plus a mapping
        ``logical → physical``, where the physical name is fixed
        forever at column creation. Old files stay readable with zero
        rewrites — every reader resolves the logical column through
        the mapping to the physical parquet column; files written
        AFTER the rename keep writing the physical name, so old and
        new files are byte-compatible and the mapping never forks.

        Refused: key/order/bloom columns (their names thread through
        bucketing/index metadata), GENERATED columns and columns any
        CHECK constraint or generation expression mentions (the stored
        expressions reference the old name — drop the rule first, the
        same position as drop_columns), a ``new`` that collides with a
        live logical name, a retired (dropped) name, or any PHYSICAL
        name — re-using a physical name would make new files carry two
        columns with one parquet name."""
        if old == new:
            raise ValueError("rename_column: old and new are the same")

        def attempt(snap: _Snapshot):
            v, meta, snap_schema = snap.version, snap.meta, snap.schema_json
            protected = set(meta["key_cols"]) | {meta["order_col"]}
            protected |= set(meta.get("bloom_cols") or ())
            if old in protected:
                raise ValueError(
                    f"cannot rename key/order/bloom column {old!r}"
                )
            gen = dict(meta.get("generated_cols") or {})
            if old in gen:
                raise ValueError(
                    f"cannot rename GENERATED column {old!r} — its "
                    "generation rule is keyed by name; drop and "
                    "re-declare it"
                )
            if old in (meta.get("identity_cols") or {}):
                raise ValueError(
                    f"cannot rename IDENTITY/row-tracking column "
                    f"{old!r} — its allocation rule and watermark are "
                    "keyed by name"
                )
            for name, expr in {**snap.constraints, **gen}.items():
                if _expr_mentions(expr, old):
                    raise ValueError(
                        f"column {old!r} is referenced by {name} "
                        f"({expr}) — drop the rule first"
                    )
            mapping = dict(meta.get("column_mapping") or {})
            if snap_schema is None:
                raise ValueError("no recorded schema to rename in")
            sch = StructType.fromJson(json.loads(snap_schema))
            names = {f.name for f in sch.fields}
            if old not in names:
                raise ValueError(f"column {old!r} not in table schema")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            if new in set(meta.get("dropped_cols") or ()):
                raise ValueError(
                    f"column name {new!r} was dropped and is retired"
                )
            physicals = {mapping.get(f.name, f.name) for f in sch.fields}
            if new in physicals - {mapping.get(old, old)}:
                raise ValueError(
                    f"column name {new!r} is the PHYSICAL name of "
                    "another column — old files carry it"
                )
            old_phys = mapping.get(old, old)
            mapping = {k: p for k, p in mapping.items() if k != old}
            mapping[new] = old_phys
            renamed = StructType(
                [
                    StructField(new, f.dataType, f.nullable, f.metadata)
                    if f.name == old
                    else f
                    for f in sch.fields
                ]
            )
            record = {
                "op": "rename_column",
                "schema_json": renamed.json(),
                "meta_update": {"column_mapping": mapping},
                "note": f"rename column {old} -> {new}",
            }
            return record, v + 1

        return self._transact(attempt, max_retries)

    def version_at_timestamp(self, ts: float) -> int:
        """TIMESTAMP AS OF resolution: the newest version whose
        commit timestamp (clamped to the running maximum, so skewed
        writer clocks can never make time travel non-monotonic) is
        ≤ ``ts``. Raises if the table's first commit is later. Linear
        record scan — an interactive/admin operation, not a
        per-trigger path (the per-trigger replays are the
        checkpoint-aware ones)."""
        return _version_at(self.table_dir, ts)

    def read(
        self,
        version: int | None = None,
        prune: dict[str, tuple] | None = None,
        eq: dict | None = None,
        timestamp: float | None = None,
        isin: dict | None = None,
    ) -> DataFrame:
        """Snapshot read (time travel with ``version=``). Consistent by
        construction: the file list comes from the log, never from a
        directory listing, so an in-flight writer is invisible.

        ``prune`` is Delta/Iceberg-style DATA SKIPPING: a mapping
        ``col → (lo, hi)`` (either bound None = unbounded). Files whose
        commit-log [min, max] for a pruned column provably misses the
        interval are never opened — at 100 TB this is the difference
        between scanning a day and scanning the table for a time-range
        query over an append-mostly log. The read stays EXACT: the same
        interval predicates are applied to the surviving rows, so
        pruning only removes whole files the predicate would have
        filtered anyway (``prune_report`` exposes the skip counts;
        correctness + skip behavior pinned in tests/test_txlog.py).

        ``eq`` is the POINT-LOOKUP twin: ``col → value`` equality
        predicates, skipped file-level via min/max AND the per-file
        bloom bitmaps (tables created with ``bloom_cols``), then
        re-applied row-level — exact whatever the bloom's
        false-positive rate, since a false positive only opens a file
        whose rows the equality filter then drops.

        ``isin`` is the MULTI-VALUE point lookup: ``col → collection``
        of lookup values, semantically ``col IN (...)``. A file is
        opened only if at least one value survives its min/max range
        AND its bloom — so a candidate-driven fetch (the corpus_ingest
        verify-mode stored-text read) opens files ∝ candidates, not ∝
        table. Row-level ``isin`` is re-applied, so exactness does not
        depend on the skip. Keep the value list driver-bounded (it
        travels in the plan as an IN-set); above ~10^5 values a join
        is the right tool instead."""
        if timestamp is not None:
            if version is not None:
                raise ValueError(
                    "read: pass version OR timestamp, not both"
                )
            version = self.version_at_timestamp(timestamp)
        _, live_map, schema_json, dvs, meta, *_ = _replay_log(
            self.table_dir, version
        )
        self._check_protocol("read", meta)
        mapping = meta.get("column_mapping") or {}
        # file stats/blooms are keyed by PHYSICAL column name — the
        # skip test translates; the row-level re-application below
        # stays on the logical frame
        keep = file_predicate(prune, eq, isin, mapping)
        live = [e for e in live_map.values() if keep(e)]
        if not live:
            if schema_json is None:
                raise ValueError("empty table with no recorded schema")
            df = self.spark.createDataFrame(
                [], StructType.fromJson(json.loads(schema_json))
            )
        else:
            df = self._open_files(
                live, schema_json, dvs,
                mapping=mapping,
            ).drop("_bucket")
        if prune:
            df = self._apply_prune(df, prune)
        if eq:
            for col, v in eq.items():
                df = df.filter(F.col(col) == F.lit(v))
        if isin:
            for col, values in isin.items():
                vals = list(values)
                df = df.filter(
                    F.col(col).isin(vals) if vals else F.lit(False)
                )
        return df

    def _open_files(
        self,
        rel_paths: list,
        schema_json: str | None,
        dvs: dict[str, set] | None,
        keep_meta: bool = False,
        mapping: dict[str, str] | None = None,
    ) -> DataFrame:
        """The ONE reader every data path goes through: the given
        table-relative files under the LOG's schema, with deletion
        vectors applied (anti-join on the PHYSICAL row position from
        ``_metadata.row_index``).

        recursiveFileLookup disables partition discovery — the explicit
        file list spans several ``_staged-*`` roots (discovery would see
        conflicting directory structures); the bucket id travels IN the
        data. The LOG is the schema authority (the Delta read-path
        contract): after add-column evolution, old files NULL-fill
        evolved columns. Files are matched to their vectors by the last
        three path components (``_staged-<uuid>/_pb=N/part-*.parquet``
        — uuid-unique), so the join is scheme-agnostic; the DV frame
        broadcasts (bounded by the merge-on-read size guard + compact
        cadence). Centralizing this is what makes merge-on-read safe:
        a rewrite path that read a raw file would RESURRECT deleted
        rows.

        ``mapping`` is the COLUMN-MAPPING resolution (rename_column):
        logical → physical names, defaulting to the table's current
        mapping and restricted to the logical names the given schema
        actually declares — files are read under PHYSICAL names and
        renamed back, so a rename never touches data files. A
        time-travel schema from before the rename carries the old
        logical (= physical) name and resolves untouched.

        ``rel_paths`` accepts the raw ADD-ENTRY DICTS interchangeably
        with plain path strings: a hive-partitioned CONVERT adopts
        files that physically LACK their partition columns (hive keeps
        the values in directory names), flagged ``pfill`` in the
        entry — for those the explicit read schema NULL-fills the
        column and this reader coalesces in the per-file value from
        the commit log via a broadcast (file → values) map, exactly
        Delta's log-supplied partition-value read path. The fill is
        transitional: the first compact()/rebucket() rewrites rows
        with the columns materialized and the flag disappears."""
        if mapping is None:
            mapping = self.meta.get("column_mapping") or {}
        ents = [
            e if isinstance(e, dict) else {"path": e} for e in rel_paths
        ]
        rel_paths = [e["path"] for e in ents]
        pfill: dict[str, dict] = {
            _path_sfx(e["path"]): (e.get("part") or {})
            for e in ents
            if e.get("pfill")
        }
        reader = self.spark.read.option("recursiveFileLookup", "true")
        rename_back: dict[str, str] = {}
        if schema_json is not None:
            logical = StructType.fromJson(json.loads(schema_json))
            rename_back = {
                mapping[f.name]: f.name
                for f in logical.fields
                if mapping.get(f.name, f.name) != f.name
            }
            physical = StructType(
                [
                    StructField(
                        mapping.get(f.name, f.name),
                        f.dataType, f.nullable, f.metadata,
                    )
                    for f in logical.fields
                ]
            )
            reader = reader.schema(physical)
        df = reader.parquet(
            *[os.path.join(self.table_dir, p) for p in rel_paths]
        )
        dv_items = [
            # normalize to the 3-component suffix the metadata join key
            # uses — identical to the listed path for table-local files,
            # and the ONLY stable key for a shallow clone's absolute
            # source paths (an unnormalized key would silently skip the
            # vector and resurrect deleted rows)
            (_path_sfx(p), int(i))
            for p in rel_paths
            for i in (dvs or {}).get(p, ())
        ]
        def to_logical(d: DataFrame) -> DataFrame:
            return _rename_columns(d, rename_back.items())

        if not dv_items and not keep_meta and not pfill:
            return to_logical(df)
        # ``keep_meta``: expose each row's table-relative file and
        # physical position (``_file``, ``_rowpos``) — the DELETE/UPDATE
        # find-scans need them, and they must come off the scan relation
        # BEFORE any join (metadata columns don't survive one).
        key = F.array_join(
            F.slice(F.split(F.col("_metadata.file_path"), "/"), -3, 3), "/"
        )
        df = df.withColumn("_file", key).withColumn(
            "_rowpos", F.col("_metadata.row_index")
        )
        if dv_items:
            dvdf = self.spark.createDataFrame(
                dv_items, "_file string, _rowpos long"
            )
            df = df.join(F.broadcast(dvdf), ["_file", "_rowpos"], "left_anti")
        if pfill and schema_json is not None:
            df = self._apply_pfill(df, pfill, schema_json, mapping)
        df = to_logical(df)
        return df if keep_meta else df.drop("_file", "_rowpos")

    def _apply_pfill(
        self,
        df: DataFrame,
        pfill: dict[str, dict],
        schema_json: str | None,
        mapping: dict[str, str],
    ) -> DataFrame:
        """Coalesce log-recorded partition values into the NULL-filled
        partition columns of hive-adopted files (``pfill`` entries).
        One broadcast (file-suffix → values) map over the scan — the
        same O(live files) driver footprint as the DV map; files from
        other entries miss the left join and keep their physical
        values. Runs on PHYSICAL column names (before rename-back)."""
        pby = [
            p
            for p in (self.meta.get("partition_by") or ())
            if p in df.columns
        ]
        if not pby:
            return df
        logical = StructType.fromJson(json.loads(schema_json))
        by_phys = {
            mapping.get(f.name, f.name): f for f in logical.fields
        }
        fields = [StructField("_file", StringType())]
        rows = []
        for sfx, part in pfill.items():
            vals = []
            for p in pby:
                v = part.get(p)
                tname = by_phys[p].dataType.typeName()
                if v is not None and tname == "date":
                    v = datetime.date(1970, 1, 1) + datetime.timedelta(
                        days=int(v)
                    )
                elif v is not None and tname in (
                    "byte", "short", "integer", "long",
                ):
                    v = int(v)
                vals.append(v)
            rows.append((sfx, *vals))
        fields += [
            StructField(f"_pf_{p}", by_phys[p].dataType) for p in pby
        ]
        fill = self.spark.createDataFrame(rows, StructType(fields))
        df = df.join(F.broadcast(fill), ["_file"], "left")
        for p in pby:
            df = df.withColumn(
                p, F.coalesce(F.col(p), F.col(f"_pf_{p}"))
            ).drop(f"_pf_{p}")
        return df

    @staticmethod
    def _apply_prune(df: DataFrame, prune: dict[str, tuple]) -> DataFrame:
        """Row-level twin of the file-level skip: the interval predicates
        as real Spark filters (pushed to the parquet scan by Catalyst),
        so a pruned read is exact whatever the stats granularity."""
        for col, (lo, hi) in prune.items():
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def prune_report(
        self,
        prune: dict[str, tuple],
        version: int | None = None,
        eq: dict | None = None,
        isin: dict | None = None,
    ) -> dict:
        """Observability for the skip decision: how many live files the
        snapshot has, how many a pruned read would open, and how many
        rows the log says were skipped (None when a skipped file
        predates stats collection). ``eq`` adds the bloom/point-lookup
        test exactly as ``read(eq=...)`` applies it; ``isin`` the
        multi-value form exactly as ``read(isin=...)``."""
        _, live_map, _, dvs, meta, *_ = _replay_log(self.table_dir, version)
        keep = file_predicate(
            prune, eq, isin, meta.get("column_mapping") or {}
        )
        live = list(live_map.values())
        return skip_counts(live, [e for e in live if keep(e)], dvs)

    def show_partitions(self, version: int | None = None) -> DataFrame:
        """``SHOW PARTITIONS`` — the live partition tuples with per-
        partition file and row counts, answered from the COMMIT LOG
        alone (zero data files opened): every add-entry records its
        exact partition values, so the listing is a driver-side fold
        over O(live files) entries — the metadata_aggregate discipline.
        Row counts subtract deletion-vector positions (merge-on-read
        deletes are already excluded) and come back None for a
        partition containing any file without footer row counts
        (exact-or-refuse); ``n_bytes`` (physical file bytes — the
        skew-detection column a 100 TB operator reads this listing
        for) follows the same exact-or-refuse rule. Partition VALUES
        are returned in the log's scalar encoding (dates as
        epoch-days, the pruning currency); entries missing a value
        for some partition column (adopted string-nulls,
        pre-partition files) list it as NULL. Rows come back in
        deterministic ascending partition-value order (NULLs last,
        compared in the scalar domain — so numeric partitions sort
        numerically, not as strings)."""
        _, live_map, _, dvs, meta, *_ = _replay_log(self.table_dir, version)
        pby = list(meta.get("partition_by") or ())
        if not pby:
            raise ValueError(
                "show_partitions: table is not partitioned"
            )
        agg: dict[tuple, list] = {}
        for e in live_map.values():
            part = e.get("part") or {}
            key = tuple(part.get(c) for c in pby)
            slot = agg.setdefault(key, [0, 0, 0])
            slot[0] += 1
            rows = (e.get("stats") or {}).get("rows")
            if slot[1] is not None and rows is not None:
                slot[1] += rows - len(dvs.get(e["path"], ()))
            else:
                slot[1] = None
            b = e.get("bytes")
            if slot[2] is not None and b is not None:
                slot[2] += b
            else:
                slot[2] = None
        out = [
            (*k, n_files, n_rows, n_bytes)
            for k, (n_files, n_rows, n_bytes) in sorted(
                agg.items(),
                key=lambda kv: tuple(
                    (v is None, v) for v in kv[0]
                ),
            )
        ]
        fields = ", ".join(
            # scalar encoding: ints stay long, everything else string
            f"`{c}` string" for c in pby
        )
        rows_df = self.spark.createDataFrame(
            [
                tuple(
                    None if v is None else str(v) for v in r[: len(pby)]
                )
                + r[len(pby):]
                for r in out
            ],
            f"{fields}, n_files long, n_rows long, n_bytes long",
        )
        return rows_df

    def detail(self) -> DataFrame:
        """``DESCRIBE DETAIL`` — the one-row table profile, answered
        from the COMMIT LOG alone (zero data files opened): Delta's
        statement shape with this engine's metadata. ``num_rows`` and
        ``size_bytes`` are exact-or-NULL (the show_partitions rule):
        a live entry missing footer rows / physical bytes nulls the
        aggregate rather than guessing. Timestamps are the in-commit
        stamps (created = v1, last_modified = head)."""
        v, live, _, dvs, meta, *_ = _replay_log(
            self.table_dir, self.latest_version()
        )
        n_rows: int | None = 0
        size: int | None = 0
        for e in live.values():
            r = (e.get("stats") or {}).get("rows")
            if n_rows is not None and r is not None:
                n_rows += r - len(dvs.get(e["path"], ()))
            else:
                n_rows = None
            b = e.get("bytes")
            if size is not None and b is not None:
                size += b
            else:
                size = None
        created = _read_record(self.table_dir, 1).get("ts")
        modified = _read_record(self.table_dir, v).get("ts")
        row = (
            "txlog",
            self.table_dir,
            float(created) if created is not None else None,
            float(modified) if modified is not None else None,
            list(meta.get("partition_by") or ()),
            list(meta["key_cols"]),
            meta["order_col"],
            int(meta["n_buckets"]),
            bool(meta.get("cdf")),
            len(live),
            size,
            n_rows,
            v,
        )
        return self.spark.createDataFrame(
            [row],
            "format string, location string, created_at double, "
            "last_modified double, partition_columns array<string>, "
            "key_cols array<string>, order_col string, "
            "n_buckets int, cdf boolean, num_files long, "
            "size_bytes long, num_rows long, version long",
        )

    def metadata_aggregate(
        self, columns: tuple[str, ...] = (), version: int | None = None
    ) -> dict:
        """Metadata-only aggregation: answer ``count(*)`` (and, per
        requested column, ``min`` / ``max`` / null count) from the
        COMMIT LOG alone — zero data files opened, zero Spark jobs (the
        Delta/Iceberg ``SELECT count(*)`` fast path). Valid because the
        log's remove-set granularity is whole files: every live file
        contributes all of its rows, so footer row counts and min/max
        compose exactly (parquet min/max excludes NULLs, matching SQL
        aggregate semantics).

        Exact-or-refuse contract: any live file missing the needed stat
        (footer unreadable, string stat dropped at 256 chars, all-null
        column chunk) turns THAT answer into ``None`` — never an
        approximation. Timestamps/dates come back in the log's recorded
        encoding (epoch-micros / days), the same scalars pruning
        compares against.

        Returns ``{"rows": n|None, "files": k, "cols": {col: {"min":
        ..., "max": ..., "null_count": ...}}}``. At 100 TB this is a
        driver-side O(live files) log replay — the difference between
        answering a dashboard COUNT in milliseconds and scanning the
        table.
        """
        _, live_map, _, dvs, meta, *_ = _replay_log(self.table_dir, version)
        live = list(live_map.values())
        # stats are keyed by PHYSICAL name — resolve renamed logicals
        mapping = meta.get("column_mapping") or {}
        # deletion vectors are exact row subtractions; a DV'd file's
        # column stats are NOT trustworthy (a deleted row may have been
        # the min/max or a null), so those columns refuse below
        rows = [
            None
            if e.get("stats", {}).get("rows") is None
            else e["stats"]["rows"] - len(dvs.get(e["path"], ()))
            for e in live
        ]
        out: dict = {
            "rows": None if any(r is None for r in rows) else sum(rows),
            "files": len(live),
            "cols": {},
        }
        for col in columns:
            mins: list = []
            maxs: list = []
            nulls: list = []
            range_exact = True
            for e in live:
                st = e.get("stats") or {}
                s = (st.get("cols") or {}).get(mapping.get(col, col))
                if dvs.get(e["path"]):
                    s = None  # vector invalidates this file's col stats
                if s is None:
                    # no recorded stat at all — refuse everything
                    range_exact = False
                    nulls.append(None)
                    continue
                mn, mx, nc = s
                all_null = nc is not None and nc == st.get("rows")
                if mn is None or mx is None:
                    # all-NULL files legitimately lack min/max and
                    # contribute nothing to the range; anything else
                    # (dropped string stat, unreadable) poisons it
                    if not all_null:
                        range_exact = False
                else:
                    mins.append(mn)
                    maxs.append(mx)
                nulls.append(nc)
            out["cols"][col] = {
                "min": min(mins) if range_exact and mins else None,
                "max": max(maxs) if range_exact and maxs else None,
                "null_count": (
                    None if any(n is None for n in nulls) else sum(nulls)
                ),
            }
        return out

    # -- CHECK constraints ------------------------------------------

    def constraints(self, version: int | None = None) -> dict[str, str]:
        """Current CHECK constraints (name → Spark SQL boolean expr),
        replayed from the log like the schema — so they version with
        the table and time travel sees the rules in force then.
        Checkpoint-aware: replay cost is O(commits since the last
        checkpoint), not O(log length) — this runs per micro-batch in
        sinks, so the full-log walk would become per-trigger driver
        work at 10⁵ commits."""
        target = self.latest_version() if version is None else version
        return _replay_log(self.table_dir, target).constraints

    def add_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT CHECK — a data contract enforced
        at every subsequent write (append / merge / update): rows for
        which ``expr`` is not TRUE are rejected BEFORE anything stages,
        so a bad batch can never become a committed version (the
        lakehouse quality gate, enforced at the storage boundary
        instead of in every producer). The EXISTING table must already
        satisfy the constraint — adding a rule the data violates would
        make every later rewrite of old rows fail. Both the row check
        and the rule map are taken at the attempt's snapshot, so a
        retry re-validates rows a concurrent writer appended and keeps
        rules a concurrent writer added.
        """
        hit = [
            c
            for c in (self.meta.get("identity_cols") or {})
            if _expr_mentions(expr, c)
        ]
        if hit:
            raise ValueError(
                f"constraint {name} references IDENTITY/row-tracking "
                f"column(s) {hit} — writes check constraints BEFORE "
                "allocation, so the rule would reject every insert; "
                "identity values are library-guaranteed unique instead"
            )

        def edit(cur: dict, v: int) -> None:
            try:
                bad = (
                    self.read(version=v)
                    .filter(f"NOT (({expr}) <=> TRUE)")
                    .limit(1)
                    .collect()
                )
            except ValueError:
                bad = []  # empty table with no schema yet: nothing to violate
            if bad:
                raise ConstraintViolation(
                    f"existing rows violate {name} ({expr}): e.g. {bad[0]}"
                )
            cur[name] = expr

        return self._commit_constraints(edit)

    def drop_constraint(self, name: str) -> int:
        return self._commit_constraints(lambda cur, v: cur.pop(name, None))

    def _commit_constraints(self, edit) -> int:
        """Commit the rule map as of the attempt's snapshot ``v`` after
        ``edit(rules, v)`` changed it in place (or raised)."""

        def attempt(snap: _Snapshot):
            v, cur = snap.version, dict(snap.constraints)
            edit(cur, v)
            return {"op": "set_constraints", "constraints": cur}, v + 1

        return self._transact(attempt)

    def _check_constraints(
        self, df: DataFrame, what: str, constraints: dict[str, str]
    ) -> None:
        """Reject ``df`` if any row fails any of ``constraints`` (the
        committing attempt's snapshot rules). The null-safe
        ``<=> TRUE`` comparison makes NULL-valued predicates
        violations (SQL CHECK semantics treat unknown as pass; a data
        CONTRACT must not — a NULL in ``v >= 0`` is exactly the bad
        row the gate exists to stop)."""
        for name, expr in constraints.items():
            bad = df.filter(f"NOT (({expr}) <=> TRUE)").limit(1).collect()
            if bad:
                raise ConstraintViolation(
                    f"{what} violates constraint {name} ({expr}): "
                    f"e.g. {bad[0]}"
                )

    # -- writes ------------------------------------------------------

    def _stage(
        self,
        df: DataFrame,
        meta: dict,
        order_cols: tuple | None = None,
        max_rows_per_file: int | None = None,
        bin_col: str | None = None,
        bin_to_bucket: dict[int, int] | None = None,
        pre_bucketed: bool = False,
    ) -> list[dict]:
        """Write `df` (already carrying ``_bucket``) as invisible data
        files under the layout ``meta`` declares (key sort, partition
        columns, column mapping, bloom columns); return add-entries
        [{path, bucket}...].

        ``order_cols`` overrides the default within-bucket key sort
        (the OPTIMIZE ZORDER path passes its Morton value);
        ``max_rows_per_file`` splits each bucket into several files so
        per-file footer stats cover NARROW value ranges — the lever
        that turns clustering into data skipping. ``bin_col`` +
        ``bin_to_bucket`` override the physical grouping: rows are laid
        out one file per BIN id instead of per bucket (the size-aware
        compaction path packs several small same-bucket files into one
        output), with the add-entry's bucket resolved through the
        map — each bin must hold rows of exactly one bucket.

        ``pre_bucketed=True``: the caller guarantees ``df`` is already
        hash-partitioned by ``_bucket`` (each bucket's rows live in
        exactly one partition — e.g. the merge paths' single bucket
        exchange, which any window keyed ``(_bucket, ...)`` preserves),
        so the ``repartition("_pb")`` here is skipped — the file
        layout (one file per partition-tuple per bucket) is identical,
        one exchange cheaper. Incompatible with ``bin_col`` (bins are
        a different grouping)."""
        staged = f"_staged-{uuid.uuid4().hex}"
        out = os.path.join(self.table_dir, staged)
        # `_pb` is a copy of `_bucket` (or the bin id) consumed by
        # partitionBy (which strips its column from the files);
        # `_bucket` itself stays in the data so explicit-file-list
        # reads need no partition discovery.
        # Partitioned tables add one `_hp_<col>` COPY per partition
        # column the same way: partitionBy consumes the copies into
        # `_hp_<col>=value` directories (one file per partition tuple
        # per bucket — the granularity the add-entry records) while
        # the REAL columns stay in the data, so no read path ever
        # needs partition discovery or log-side column fill.
        pby = list(meta.get("partition_by") or ())
        rev = {
            ph: lg
            for lg, ph in (meta.get("column_mapping") or {}).items()
        }
        hp_cols: list[str] = []
        ptypes: dict[str, str] = {}
        w = df.withColumn("_pb", F.col(bin_col or "_bucket"))
        for ph in pby:
            lg = rev.get(ph, ph)  # frame carries LOGICAL names here
            if lg not in w.columns:
                raise ValueError(
                    f"write frame lacks partition column {lg!r} — "
                    "partitioned tables require every write to carry "
                    "their partition columns"
                )
            tname = w.schema[lg].dataType.typeName()
            if tname not in _PART_TYPES:
                raise ValueError(
                    f"partition column {lg!r} has type {tname!r} — "
                    f"partition columns must be one of "
                    f"{sorted(_PART_TYPES)}"
                )
            ptypes[ph] = tname
            hp_cols.append(f"_hp_{ph}")
            w = w.withColumn(f"_hp_{ph}", F.col(lg))
        # `_hp_*` + `_pb` lead the within-partition sort:
        # FileFormatWriter requires task rows ordered by the partition
        # columns and inserts its own (non-stable) sort when they are
        # not — which would scramble the data ordering this sort
        # establishes
        if pre_bucketed and not bin_col:
            # caller-guaranteed: df is already hash-partitioned by
            # _bucket, so the exchange is pure cost — sort in place
            w = w.sortWithinPartitions(
                *hp_cols, "_pb", *(order_cols or meta["key_cols"])
            )
        else:
            w = w.repartition("_pb").sortWithinPartitions(
                *hp_cols, "_pb", *(order_cols or meta["key_cols"])
            )
        # synthetic layout columns (z-value, bin id) must not land in
        # the files: the projection after the sort is exchange-free,
        # so the within-partition order survives the drop
        for c in order_cols or ():
            if c not in df.columns or c.startswith("_z"):
                w = w.drop(c)
        if bin_col:
            w = w.drop(bin_col)
        # column mapping: files always carry PHYSICAL names (the
        # rename_column contract) — an exchange-free projection after
        # the sort
        for lg, ph in (meta.get("column_mapping") or {}).items():
            if ph != lg and lg in w.columns:
                if ph in w.columns:
                    raise ValueError(
                        f"column {ph!r} is the PHYSICAL name of "
                        f"renamed column {lg!r} — a frame cannot "
                        "carry both names"
                    )
                w = w.withColumnRenamed(lg, ph)
        writer = w.write.partitionBy(*hp_cols, "_pb")
        if max_rows_per_file:
            writer = writer.option("maxRecordsPerFile", int(max_rows_per_file))
        writer.parquet(out)
        entries = []
        for p0 in glob.glob(
            os.path.join(out, "**", "*.parquet"), recursive=True
        ):
            # rename to a globally-unique basename: the scan-side file
            # identity key is the LAST THREE path components, and with
            # ≥2 partition directory levels Spark's own part-file names
            # (unique per job, not per directory tree) could collide on
            # that suffix across sibling partition dirs — which would
            # cross-apply deletion vectors. A per-file uuid makes the
            # suffix unique whatever the directory depth.
            p = os.path.join(
                os.path.dirname(p0), f"part-{uuid.uuid4().hex}.parquet"
            )
            os.rename(p0, p)
            # innermost dir is always `_pb=N` (bucket); any enclosing
            # `_hp_<col>=value` dirs carry the file's partition tuple
            pb = int(os.path.basename(os.path.dirname(p)).split("=", 1)[1])
            bucket = bin_to_bucket[pb] if bin_to_bucket is not None else pb
            # physical size recorded once at stage time: consumed by
            # byte-based stream pacing and the size-aware compaction
            # policy without a stat call per planning pass
            e = _add_entry(self.table_dir, p, bucket)
            if pby:
                part = {}
                for comp in os.path.relpath(p, out).split(os.sep)[:-2]:
                    name, _, val = comp.partition("=")
                    if name.startswith("_hp_"):
                        col = name[4:]
                        v = _part_scalar_of_dir(val, ptypes[col])
                        if v is None and ptypes[col] == "string":
                            # hive writes NULL and "" both as the
                            # default-partition token — for strings the
                            # dir name can't distinguish them, so record
                            # nothing (conservative keep) instead of an
                            # exact null that would wrongly skip eq("")
                            continue
                        part[col] = v
                e["part"] = part
                # partition values double as EXACT per-file stats
                # (min == max == value, zero nulls) — footer stats for
                # the column say the same thing, but this survives the
                # cases footers drop (long strings), so the whole
                # stats-skipping surface (reads, find-scans, the
                # DataSource pushdown) prunes partitions for free
                cols = e.setdefault("stats", {}).setdefault("cols", {})
                for c, v in part.items():
                    if v is not None and c not in cols:
                        cols[c] = [v, v, 0]
            entries.append(e)
        bloom_cols = tuple(
            c for c in (meta.get("bloom_cols") or ()) if c in df.columns
        )
        if bloom_cols and entries:
            blooms = self._stage_blooms(out, bloom_cols)
            for e in entries:
                b = blooms.get(os.path.basename(e["path"]))
                if b:
                    e["bloom"] = b
        return entries

    def _stage_blooms(
        self, out_dir: str, bloom_cols: tuple[str, ...]
    ) -> dict[str, dict[str, dict]]:
        """One distributed job over the files just staged → per-file,
        per-indexed-column bloom bitmaps, keyed by file name — the
        ``part-<uuid>.parquet`` name :meth:`_stage` gives every file,
        unique whatever the partition-directory depth (a partitioned
        entry's path has more components than the 3-component suffix).

        Scale shape: the job is a column-pruned scan of ONLY the new
        files' indexed columns, grouped by physical file (each group is
        one file's rows — already colocated, the shuffle is a no-op
        repartition by file), and the driver collects one ≤4 KiB bitmap
        row per (file, column) — O(files added this commit), the same
        order as the add-entries themselves. Hashing runs Arrow-batched
        in executors, never driver-side — EXCEPT below
        ``_BLOOM_DRIVER_MAX_BYTES`` of staged bytes, where one bounded
        pyarrow read replaces the whole scheduled job (the commit-dense
        programs — ingest pipelines, the bloom-tabled gates — pay that
        job once per commit, and at bench scale it is pure scheduling
        wall)."""
        paths = glob.glob(
            os.path.join(out_dir, "**", "*.parquet"), recursive=True
        )
        if (
            sum(os.path.getsize(p) for p in paths)
            <= _BLOOM_DRIVER_MAX_BYTES
        ):
            import pyarrow.parquet as pq

            out: dict[str, dict[str, dict]] = {}
            for p in paths:
                # the same last path component the distributed branch
                # takes from _metadata.file_path
                rel = os.path.basename(p)
                tbl = pq.read_table(p, columns=list(bloom_cols))
                for c in bloom_cols:
                    vals = [
                        v
                        for v in tbl.column(c).to_pylist()
                        if v is not None
                    ]
                    b = _bloom_build(vals)
                    if b is not None:
                        out.setdefault(rel, {})[c] = b
            return out
        rel_of = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
        src = (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(out_dir)
            .select(rel_of.alias("_file"), *bloom_cols)
        )
        cols = bloom_cols

        def build(pdf):
            import pandas as pd

            rel = pdf["_file"].iloc[0]
            rows = []
            for c in cols:
                b = _bloom_build(pdf[c].dropna().unique().tolist())
                if b is not None:
                    rows.append(
                        (rel, c, int(b["m"]), int(b["k"]), b["b64"])
                    )
            return pd.DataFrame(
                rows, columns=["_file", "col", "m", "k", "b64"]
            )

        collected = (
            src.groupBy("_file")
            .applyInPandas(
                build, "_file string, col string, m long, k int, b64 string"
            )
            .collect()
        )
        out: dict[str, dict[str, dict]] = {}
        for r in collected:
            # the _file key is the uuid-unique file name
            out.setdefault(r["_file"], {})[r["col"]] = {
                "m": r["m"],
                "k": r["k"],
                "b64": r["b64"],
            }
        return out

    def _stage_cdf(self, record: dict, snap: _Snapshot) -> list[str]:
        """Materialize a pending rewrite commit's change feed (cdf=True
        tables): derive the rows from the staged record — built against
        ``snap``, the attempt's snapshot — and write them
        under ``_cdf-<uuid>/`` — OUTSIDE the ``_staged-*`` namespace so
        vacuum's staged-orphan reclamation never touches committed
        change files. Returns table-relative parquet paths to record as
        ``cdf_files`` (and stamps their physical sizes into the record
        as ``cdf_bytes``, so byte-based stream pacing can budget feed
        batches like it budgets add files). Cost ∝ the commit's touched
        buckets — the write-time price Delta's enableChangeDataFeed
        pays."""
        changes = self._changes_for(record["version"], record, snap, snap)
        # change files follow the same contract as data files: PHYSICAL
        # column names on disk, so the DataSource change-feed reader
        # resolves renamed columns through the one mapping
        changes = _rename_columns(
            changes, (snap.meta.get("column_mapping") or {}).items()
        )
        out_rel = f"_cdf-{uuid.uuid4().hex}"
        out = os.path.join(self.table_dir, out_rel)
        changes.write.parquet(out)
        paths = sorted(
            os.path.relpath(p, self.table_dir)
            for p in glob.glob(os.path.join(out, "*.parquet"))
        )
        record["cdf_bytes"] = {
            rel: os.path.getsize(os.path.join(self.table_dir, rel))
            for rel in paths
        }
        return paths

    def _with_bucket(self, df: DataFrame, m: dict) -> DataFrame:
        # bucket ids under meta ``m``'s modulus. NULL business keys are
        # dropped JVM-side (the stream-store NULL hygiene convention): a
        # NULL key is a malformed row the K4 path validates away
        # upstream, and xxhash64(NULL) would otherwise produce a NULL
        # bucket (an unparseable _pb partition dir).
        clean = df
        for c in m["key_cols"]:
            clean = clean.filter(F.col(c).isNotNull())
        return clean.withColumn(
            "_bucket",
            F.pmod(
                F.xxhash64(*[F.col(c) for c in m["key_cols"]]), F.lit(m["n_buckets"])
            ),
        )

    def _schema_union_json(
        self,
        df: DataFrame | StructType,
        snap: _Snapshot,
        merge_schema: bool,
        op: str,
    ) -> str:
        """The schema a commit must RECORD: the schema of ``snap`` (the
        attempt's snapshot) widened by the incoming frame's new columns
        (add-column evolution) and, under ``merge_schema``, by safe TYPE
        WIDENINGS (int ladder → long, float → double — Delta's
        typeWidening): the log records the wide type and old files keep
        their narrow physical encoding, upcast losslessly at scan time
        by Spark's parquet readers and the DataSource's Arrow cast. An
        incoming frame NARROWER than the table needs no schema change at
        all (its files read under the wide log schema). Key/order
        columns never widen — the bucket hash is width-dispatched, so a
        widened key would silently re-bucket. Any other same-name type
        change is refused outright (narrowing or incompatible types
        would corrupt old files at read time — the Delta position).
        Accepts a DataFrame or a bare StructType (the DataSource writer
        has only the latter)."""
        schema = df if isinstance(df, StructType) else df.schema
        user_fields = [f for f in schema.fields if f.name != "_bucket"]
        meta, snap_schema = snap.meta, snap.schema_json
        retired = set(meta.get("dropped_cols") or ())
        resurrect = [f.name for f in user_fields if f.name in retired]
        if resurrect:
            raise ValueError(
                f"{op}: column(s) {sorted(resurrect)} were dropped — "
                "re-adding the name would resurrect stale values from "
                "old files that still physically carry it; use a new "
                "column name"
            )
        mapping = meta.get("column_mapping") or {}
        phys_taken = {p for lg, p in mapping.items() if p != lg}
        shadow = [
            f.name for f in user_fields
            if f.name in phys_taken and f.name not in mapping
        ]
        if shadow:
            raise ValueError(
                f"{op}: column(s) {sorted(shadow)} are the PHYSICAL "
                "name of a renamed column — old files carry the name; "
                "use a different column name"
            )
        if snap_schema is None:
            # FIRST write: the recorded schema must carry the managed
            # IDENTITY / row-tracking columns even when the frame does
            # not (merge_into passes the raw source) — otherwise the
            # first commit would fork a table permanently missing its
            # own _row_id and every later aligned write would crash
            have = {f.name for f in user_fields}
            user_fields = list(user_fields) + [
                StructField(c, LongType(), True)
                for c in (meta.get("identity_cols") or {})
                if c not in have
            ]
            return StructType(user_fields).json()
        old = StructType.fromJson(json.loads(snap_schema))
        old_by_name = {f.name: f for f in old.fields}
        new_by_name = {f.name: f for f in user_fields}
        frozen = set(meta["key_cols"]) | {meta["order_col"]}
        widen_to: dict[str, StructField] = {}
        key_set = set(meta["key_cols"])
        for f in user_fields:
            prev = old_by_name.get(f.name)
            if prev is None or prev.dataType == f.dataType:
                continue
            if f.name in key_set:
                # EITHER direction: the bucket hash is width-dispatched
                # (hashInt vs hashLong), so a KEY column whose incoming
                # width differs — wider OR narrower — would silently
                # re-bucket its rows past later merges. (The order
                # column is never hashed: a narrower incoming order
                # value upcasts like any data column below.)
                raise ValueError(
                    f"{op}: key column {f.name!r} must arrive "
                    f"as {prev.dataType.simpleString()} (got "
                    f"{f.dataType.simpleString()}) — the bucket hash "
                    "is width-dispatched; cast the frame first"
                )
            if _widens_to(f.dataType, prev.dataType):
                continue  # incoming is narrower: reads upcast, the
                # recorded (wide) schema already covers it
            if _widens_to(prev.dataType, f.dataType):
                if f.name in frozen:
                    raise ValueError(
                        f"{op}: cannot widen key/order column "
                        f"{f.name!r}"
                    )
                if not merge_schema:
                    raise ValueError(
                        f"{op}: column {f.name!r} widening "
                        f"{prev.dataType.simpleString()} → "
                        f"{f.dataType.simpleString()} requires "
                        "merge_schema=True"
                    )
                widen_to[f.name] = f
                continue
            raise ValueError(
                f"{op}: column {f.name!r} type change "
                f"{prev.dataType.simpleString()} → "
                f"{f.dataType.simpleString()} is not supported"
            )
        # IDENTITY / row-tracking columns are library-managed: a user
        # frame legitimately arrives WITHOUT them (the write path
        # allocates), so they are exempt from the name-set equality —
        # the recorded schema below keeps the table's field either way
        managed = set(meta.get("identity_cols") or ())
        if (
            set(old_by_name) - managed != set(new_by_name) - managed
            and not merge_schema
        ):
            raise ValueError(
                f"{op}: schema mismatch — table has "
                f"{sorted(old_by_name)}, incoming has "
                f"{sorted(new_by_name)}; "
                "pass merge_schema=True to add columns"
            )
        widened = [
            StructField(
                f0.name,
                widen_to[f0.name].dataType,
                f0.nullable or widen_to[f0.name].nullable,
                f0.metadata,
            )
            if f0.name in widen_to
            else f0
            for f0 in old.fields
        ] + [f for f in user_fields if f.name not in old_by_name]
        return StructType(widened).json()

    _MERGE_PRUNE_MAX_KEYS = 100_000

    def _merge_hit_files(
        self, live: list, src_b: DataFrame, meta: dict
    ) -> list:
        """The files a merge must rewrite — Delta's two-phase merge
        find-phase, at FILE granularity: of the source's touched
        buckets, only files that MAY contain a source key — by the
        commit log's per-file key [min, max] probed against the
        source's PER-BUCKET key envelope, and per-value blooms when
        the key columns are bloom-indexed — are rewritten; the rest
        keep their rows by staying live, untouched. Write
        amplification is then ∝ files with matches, not bucket size —
        on a 100 TB table a 10-key merge rewrites a handful of files
        instead of whole buckets. Exactness: a pruned file provably
        contains NO source key, so its rows could only have carried
        through the rewrite byte-identically (matched keys' duplicate
        rows always sit in candidate files by definition).
        Consolidation of blind-append duplicate rows for keys the
        source does NOT touch follows pruning granularity, exactly as
        it always has (untouched BUCKETS were never consolidated
        either); the next merge/compact touching those keys
        consolidates them.

        Cost: ONE aggregate job over the source — the same job that
        used to compute only the touched-bucket set now also carries
        the per-bucket key envelopes and distinct-key count; the
        per-value bloom probe additionally collects the distinct key
        tuples only when there are ≤ ``_MERGE_PRUNE_MAX_KEYS`` of
        them (driver-bounded) AND the envelope left >1 candidate.
        Bucket ``-1`` (unadopted/converted) files are ALWAYS hit:
        every keyed write re-adopts them into real buckets, and
        pruning must not stall that migration. ``src_b`` is bucketed
        under ``meta``, the snapshot ``live`` comes from."""
        key_cols = meta["key_cols"]
        aggs = []
        for k in key_cols:
            aggs += [F.min(k).alias(f"_lo_{k}"),
                     F.max(k).alias(f"_hi_{k}")]
        aggs.append(
            F.count_distinct(*[F.col(k) for k in key_cols])
            .alias("_nk")
        )
        stats = src_b.groupBy("_bucket").agg(*aggs).collect()
        env = {r["_bucket"]: r for r in stats}
        mapping = meta.get("column_mapping") or {}
        always = [e for e in live if e["bucket"] == -1]
        keep_in = {
            b: file_predicate(
                {k: (r[f"_lo_{k}"], r[f"_hi_{k}"]) for k in key_cols},
                mapping=mapping,
            )
            for b, r in env.items()
        }
        cand = [
            e for e in live
            if e["bucket"] in keep_in and keep_in[e["bucket"]](e)
        ]
        n_keys = sum(r["_nk"] for r in stats)
        # the per-value probe costs one extra collect job per merge;
        # below a handful of candidate files the envelope has already
        # captured ~all the win, and on commit-dense programs (ingest
        # pipelines) the extra job's scheduling wall dominates what
        # pruning 2-3 more small files saves — so probe only when the
        # candidate set is big enough to pay for it
        if len(cand) > 4 and 0 < n_keys <= self._MERGE_PRUNE_MAX_KEYS:
            rows = src_b.select(*key_cols).distinct().collect()
            keep = file_predicate(
                isin={k: [r[k] for r in rows] for k in key_cols},
                mapping=mapping,
            )
            cand = [e for e in cand if keep(e)]
        return cand + always

    def merge_upsert(
        self,
        df: DataFrame,
        txn: dict | None = None,
        max_retries: int = 5,
        merge_schema: bool = False,
    ) -> int:
        """Atomic MERGE: latest row per key wins across (existing ∪ df).

        Optimistic concurrency: compute against snapshot V, attempt
        commit at V+1; on conflict re-read and retry (the merge is
        deterministic given a snapshot, so retries are safe). Returns
        the committed version.

        Ties at equal ``order_col`` resolve deterministically, by the
        ``apply_cdc`` ordering contract: an incoming row beats the
        existing one, and equal-rank incoming rows are ordered by a
        stable content hash, so replaying a batch picks the same winner.

        ``merge_schema=True`` is Delta's ``mergeSchema`` ADD-COLUMN
        evolution: incoming rows may carry columns the table lacks (and
        vice versa) — the union is taken by name with NULLs filling
        either side's gaps, and the commit records the WIDENED schema.
        Only the touched buckets rewrite under the new schema; untouched
        buckets keep their old files, and `read` reconciles the mix via
        parquet schema merging (older files yield NULL for the new
        column — exactly the Delta/Iceberg read-path contract). Without
        the flag a schema mismatch fails fast (the default guards
        against typo'd column names silently forking the schema).
        """
        df = self._managed_entry(df, "merge_upsert", self.meta)
        return self._keyed_merge(
            df.withColumn("_del", F.lit(False)), self._merge_hit_files,
            "merge_upsert", txn, max_retries, merge_schema,
        )

    def _keyed_merge(
        self,
        df: DataFrame,
        hit_files,
        op: str,
        txn: dict | None,
        max_retries: int,
        merge_schema: bool,
    ) -> int:
        """The ONE keyed latest-wins body behind ``merge_upsert`` and
        ``apply_cdc``: ``df`` carries the table columns plus a boolean
        ``_del`` (TRUE = retract the key; ``merge_upsert`` passes all
        FALSE). Per attempt, all against the attempt's snapshot: check
        the batch's upsert rows (``_del`` FALSE — the only ones that can
        land) against its CHECK constraints, bucket the batch under its
        modulus, pick the existing files to rewrite with
        ``hit_files(live, incoming, meta)``, union them with the batch,
        keep one row per key — ``order_col`` desc, then incoming before
        existing, then delete before upsert, then a stable ``xxhash64``
        content hash, so replaying a batch always picks the same winner
        — drop keys whose winner is a delete, and commit ``op="merge"``
        (add = the rewritten buckets, remove = the hit files)."""
        upserts = df.filter(~F.col("_del")).drop("_del")

        def attempt(snap: _Snapshot):
            base_v, live_map, snap_schema, dvs, m, cons, _ = snap
            self._check_constraints(upserts, f"{op} batch", cons)
            incoming = self._with_bucket(df, m)
            hit = hit_files(list(live_map.values()), incoming, m)
            # validate/widen BEFORE staging — a schema mismatch must not
            # write orphan files first
            schema_rec = self._schema_union_json(
                incoming.drop("_del"), snap, merge_schema, op
            )
            inc = incoming.withColumn("_src", F.lit(1))
            if hit:
                # read hit files under the LOG's schema via the DV-aware
                # reader (deleted rows must not resurrect through the
                # rewrite) and recompute _bucket from the keys
                existing = self._with_bucket(
                    self._open_files(
                        hit, snap_schema, dvs,
                        mapping=m.get("column_mapping") or {},
                    ).drop("_bucket"),
                    m,
                ).withColumn("_del", F.lit(False)).withColumn(
                    "_src", F.lit(0)
                )
                merged = existing.unionByName(
                    inc, allowMissingColumns=merge_schema
                )
            else:
                merged = inc
            from pyspark.sql import Window

            # ONE exchange for the whole merge (guide §2.4): hash-
            # repartition by _bucket once, and prepend _bucket to every
            # window's partition keys below. The groups are IDENTICAL
            # to partitionBy(key_cols) alone — _bucket is a pure
            # function of the keys (pmod(xxhash64(keys), n_buckets)) —
            # so no row's window result changes; but clustered-by-
            # (_bucket, keys) is satisfied by hashpartitioning(_bucket),
            # so both windows ride THIS exchange, and _stage reuses it
            # via pre_bucketed=True instead of repartitioning by _pb
            # again. Was: exchange(keys) for the windows + exchange(_pb)
            # in _stage (+ a third by _bucket in _fill_identity on
            # identity tables — its localCheckpoint erases partitioning
            # info, so that one re-adds only when NULL ids need fills).
            merged = merged.repartition("_bucket")
            bkeys = ["_bucket", *m["key_cols"]]
            # data_cols intentionally still includes the identity
            # columns: existing-vs-incoming rows hash differently
            # there, which only sharpens the deterministic tie-break.
            # xxhash64 refuses MAP-typed input, so map columns sit out
            # of the hash (rows differing only there tie unspecified)
            data_cols = [
                c for c in merged.columns
                if c not in ("_del", "_src", "_bucket")
                and "map<" not in merged.schema[c].dataType.simpleString()
            ]

            # IDENTITY / row tracking: the winner for an EXISTING key
            # is an update — it INHERITS the key's current id, and the
            # EXISTING side's value takes precedence over any explicit
            # BY DEFAULT value the incoming row carries (an update may
            # not change identity — the merge_into/update_where rule; a
            # delete+reinsert within one CDC batch keeps the key's id,
            # since the key existed at the snapshot). Winners for new
            # keys keep their explicit value or stay NULL for the
            # watermark fill. The inherited id is the one carried by
            # the LATEST-WINS existing row (max_by over (order_col, id)
            # — id-desc tie-break, non-null beating null at equal
            # order), NOT the per-key max id: existing duplicates for
            # one key (blind appends) must not rewrite the surviving
            # row's id to some other duplicate's — the row-tracking
            # contract preserves the survivor's id byte-identically.
            # Same shuffle key as the latest-wins window below — one
            # exchange.
            idc = [c for c in self._identity_specs(m) if c in merged.columns]
            if idc:
                kw = Window.partitionBy(*bkeys)
                for c in idc:
                    merged = merged.withColumn(
                        f"_ih_{c}",
                        F.max_by(
                            F.when(F.col("_src") == 0, F.col(c)),
                            F.when(
                                F.col("_src") == 0,
                                F.struct(
                                    F.col(m["order_col"]), F.col(c)
                                ),
                            ),
                        ).over(kw),
                    )
            w = Window.partitionBy(*bkeys).orderBy(
                F.col(m["order_col"]).desc(),
                F.col("_src").desc(),
                F.col("_del").desc(),
                F.xxhash64(*data_cols).desc(),
            )
            latest = (
                merged.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                # winner is a delete -> the key leaves the table
                .filter(~F.col("_del"))
                .drop("_rn", "_del", "_src")
            )
            for c in idc:
                latest = latest.withColumn(
                    c, F.coalesce(F.col(f"_ih_{c}"), F.col(c))
                ).drop(f"_ih_{c}")
            latest, id_upd = self._fill_identity(latest, m)
            added = self._stage(latest, m, pre_bucketed=True)
            record = {
                "op": "merge",
                "add": added,
                "remove": [e["path"] for e in hit],
                "schema_json": schema_rec,
            }
            if id_upd:
                record["meta_update"] = id_upd
            return record, base_v + 1

        return self._transact(
            attempt, max_retries, txn, auto_compact=op == "merge_upsert"
        )

    def merge_into(
        self,
        source: DataFrame,
        when_matched="update",  # str | None | list of clause dicts
        update_set: dict[str, str] | None = None,
        matched_condition: str | None = None,
        when_not_matched="insert",  # str | None | list of clause dicts
        not_matched_condition: str | None = None,
        when_not_matched_by_source: str | None = None,
        by_source_set: dict[str, str] | None = None,
        by_source_condition: str | None = None,
        merge_schema: bool = False,
        txn: dict | None = None,
        max_retries: int = 5,
    ) -> int:
        """Conditional ``MERGE INTO`` (Delta's clause surface, ON = key
        equality): one atomic commit applying

        - WHEN MATCHED clauses — ``when_matched`` is either the legacy
          scalar form (``"update"`` with ``update_set`` /
          ``matched_condition``, ``"delete"``, or ``None``) or an
          ORDERED clause list ``[{"action": "update"|"delete",
          "set": {...}|None, "condition": sql|None}, ...]``: per
          matched row the FIRST clause whose condition is TRUE wins
          (Delta's clause-precedence rule); every clause but the last
          must carry a condition (an unconditional clause would make
          later ones unreachable — Delta refuses the same). A matched
          row no clause claims keeps the target value. ``set`` maps
          col → SQL over ``s.*``/``t.*``; unassigned columns keep the
          target value; ``set=None`` takes the source row wholesale.
        - WHEN NOT MATCHED clauses — ``when_not_matched`` is either
          the scalar form (``"insert"`` [AND ``not_matched_condition``]
          = the source row, or ``None`` = drop unmatched source rows)
          or an ORDERED clause list ``[{"values": {...}|None,
          "condition": sql|None}, ...]`` (Delta's multi-insert form):
          first TRUE condition wins, rows no clause claims are
          dropped. ``values`` maps col → SQL over ``s.*`` (conditions
          too — a ``t.``-reference is refused: no target row exists);
          ``values=None`` inserts the source row; assigned-but-absent
          columns come from the source for KEY columns (the ON-clause
          alignment — a NULL key would be silently dropped by bucket
          hygiene) and NULL for the rest, SQL INSERT semantics.
          GENERATED columns are recomputed on custom-valued inserts.
        - WHEN NOT MATCHED BY SOURCE [AND ``by_source_condition``]
          THEN ``when_not_matched_by_source`` = ``"delete"`` or
          ``"update"`` (with ``by_source_set``) — the sync-two-tables
          idiom: target rows NO source row matches are deleted /
          updated. Conditions and SET expressions here reference
          ``t.*`` ONLY (there is no source row — Delta's rule; a
          ``s.``-reference is refused up front). NOTE the scale cost,
          same as Delta documents: a by-source clause must examine
          EVERY target row, so the merge scans and rewrites the whole
          table instead of only the source keys' buckets.

        Conditions are null-safe (UNKNOWN = clause does not apply).
        EVERY target copy of a matched key takes the action (append
        duplicates included — join semantics, not latest-wins;
        ``merge_upsert`` owns latest-wins). Sources with several rows
        per key are REFUSED only when those rows would act on the same
        TARGET row via a matched clause (Delta's multiple-matches
        error); duplicate keys that match nothing simply insert —
        insert-only merges accept any source. The source is pinned
        with ``localCheckpoint`` before the duplicate check, so a
        non-deterministic source (``rand()``, a re-read of a mutating
        table) cannot pass the check yet write different rows — the
        same source materialization Delta performs. Key columns are
        unassignable; GENERATED columns are recomputed on updated rows
        and computed on inserts. A merge with no clause at all is
        refused.

        ``merge_schema=True`` enables SCHEMA EVOLUTION under merge
        (Delta's autoMerge): the commit schema is the union of table
        and source — new source columns are added (pre-existing
        target rows carry NULL), safe type widenings apply, and a
        source NARROWER than the table is accepted with the missing
        columns kept from the target on updates (``SET *`` maps by
        name, Delta's rule) and NULL-filled on inserts.

        Scale shape: without a by-source clause, identical to
        ``merge_upsert`` — only the touched buckets' files rewrite
        (cost ∝ source keys' buckets, never table size); an
        insert-only merge (no matched/by-source clause) rewrites
        NOTHING — it appends the anti-joined rows, Delta's insert-only
        fast path. The commit is a generic rewrite so CDF (exact
        multiset delta), time travel, vacuum, and the stream's rewrite
        refusal all apply with zero new cases."""
        # ---- clause normalization: scalar legacy form → clause list
        if isinstance(when_matched, (list, tuple)):
            if update_set is not None or matched_condition is not None:
                raise ValueError(
                    "merge_into: with a when_matched clause LIST, put "
                    "set/condition inside each clause dict — the "
                    "update_set/matched_condition parameters are the "
                    "single-clause form"
                )
            clauses = [dict(c) for c in when_matched]
        elif when_matched is None:
            if update_set is not None:
                raise ValueError(
                    "update_set requires when_matched='update'"
                )
            if matched_condition is not None:
                raise ValueError(
                    "matched_condition requires a when_matched clause"
                )
            clauses = []
        elif when_matched in ("update", "delete"):
            # inapplicable clause parameters are BUGS in the call, not
            # no-ops — silently ignoring them would hide a caller who
            # meant when_matched='update' (Delta refuses them too)
            if update_set is not None and when_matched != "update":
                raise ValueError(
                    "update_set requires when_matched='update'"
                )
            clauses = [{
                "action": when_matched,
                "set": update_set,
                "condition": matched_condition,
            }]
        else:
            raise ValueError(
                "when_matched must be 'update', 'delete', None, or a "
                "clause list"
            )
        for i, cl in enumerate(clauses):
            extra = set(cl) - {"action", "set", "condition"}
            if extra:
                raise ValueError(
                    f"merge_into: unknown clause key(s) {sorted(extra)}"
                )
            if cl.get("action") not in ("update", "delete"):
                raise ValueError(
                    "each when_matched clause action must be 'update' "
                    "or 'delete'"
                )
            if cl.get("action") == "delete" and cl.get("set") is not None:
                raise ValueError(
                    "a 'delete' clause takes no 'set'"
                )
            cl.setdefault("set", None)
            cl.setdefault("condition", None)
            if i < len(clauses) - 1 and not cl["condition"]:
                raise ValueError(
                    "every WHEN MATCHED clause except the last needs a "
                    "condition — an unconditional clause makes later "
                    "clauses unreachable (Delta's clause-list rule)"
                )
        if isinstance(when_not_matched, (list, tuple)):
            if not_matched_condition is not None:
                raise ValueError(
                    "merge_into: with a when_not_matched clause LIST, "
                    "put conditions inside each clause dict — "
                    "not_matched_condition is the single-clause form"
                )
            ins_clauses = [dict(c) for c in when_not_matched]
            if not ins_clauses:
                raise ValueError(
                    "merge_into: empty when_not_matched clause list — "
                    "pass None to drop unmatched source rows"
                )
        elif when_not_matched == "insert":
            ins_clauses = [
                {"values": None, "condition": not_matched_condition}
            ]
        elif when_not_matched is None:
            if not_matched_condition is not None:
                raise ValueError(
                    "not_matched_condition requires "
                    "when_not_matched='insert'"
                )
            ins_clauses = []
        else:
            raise ValueError(
                "when_not_matched must be 'insert', None, or a "
                "clause list"
            )
        for j, cl in enumerate(ins_clauses):
            extra = set(cl) - {"values", "condition"}
            if extra:
                raise ValueError(
                    f"merge_into: unknown insert-clause key(s) "
                    f"{sorted(extra)}"
                )
            cl.setdefault("values", None)
            cl.setdefault("condition", None)
            if cl["values"] is not None and not isinstance(
                cl["values"], dict
            ):
                raise ValueError(
                    "insert-clause 'values' must be a col → SQL dict "
                    "or None (insert the source row)"
                )
            if j < len(ins_clauses) - 1 and not cl["condition"]:
                raise ValueError(
                    "every WHEN NOT MATCHED clause except the last "
                    "needs a condition — an unconditional clause makes "
                    "later clauses unreachable (Delta's clause-list "
                    "rule)"
                )
            for ex in list((cl["values"] or {}).values()) + (
                [cl["condition"]] if cl["condition"] else []
            ):
                # no target row exists for a not-matched source row —
                # a t.-reference would resolve to the all-NULL target
                # side (or fail outright on the insert-only fast
                # path); case-insensitive and backtick-aware
                if _alias_ref(ex, "t"):
                    raise ValueError(
                        "not-matched clauses reference s.* only — no "
                        f"target row exists for those rows (got {ex!r})"
                    )
        if when_not_matched_by_source not in (None, "update", "delete"):
            raise ValueError(
                "when_not_matched_by_source must be 'update', "
                "'delete', or None"
            )
        if by_source_set is not None and when_not_matched_by_source != "update":
            raise ValueError(
                "by_source_set requires when_not_matched_by_source="
                "'update'"
            )
        if when_not_matched_by_source == "update" and not by_source_set:
            raise ValueError(
                "when_not_matched_by_source='update' requires "
                "by_source_set — there is no source row to take "
                "values from"
            )
        if by_source_condition is not None and when_not_matched_by_source is None:
            raise ValueError(
                "by_source_condition requires a "
                "when_not_matched_by_source clause"
            )
        for ex in list((by_source_set or {}).values()) + (
            [by_source_condition] if by_source_condition else []
        ):
            # the source side is all-NULL for by-source rows, so any
            # spelling of an s-reference (`S.v`, `s`.v) must refuse
            # or the rows are silently NULLed
            if _alias_ref(ex, "s"):
                raise ValueError(
                    "by-source clauses reference t.* only — no source "
                    f"row exists for those target rows (got {ex!r}); "
                    "Delta refuses source references here too"
                )
        if not clauses and not ins_clauses \
                and when_not_matched_by_source is None:
            raise ValueError(
                "merge_into: no clause at all — nothing to do"
            )
        m0 = self.meta
        key_cols = list(m0["key_cols"])
        gen = dict(m0.get("generated_cols") or {})
        # IDENTITY / row tracking: updates keep the target's value
        # (the column is unassignable, like GENERATED); inserts get
        # fresh ids from the watermark after the clause plan resolves
        managed_ids = set(m0.get("identity_cols") or ())
        managed_always = {
            n
            for n, s in (m0.get("identity_cols") or {}).items()
            if s.get("always", True)
        }
        all_sets = [
            cl["set"] for cl in clauses
            if cl["action"] == "update" and cl["set"]
        ]
        if by_source_set:
            all_sets.append(by_source_set)
        for st in all_sets:
            bad = set(st) & set(key_cols)
            if bad:
                raise ValueError(
                    f"cannot assign key column(s) {sorted(bad)}: "
                    "rekeying is a delete + insert"
                )
            # UPDATE may never assign an identity column — ALWAYS or
            # BY DEFAULT (Delta's rule; update_where refuses the same).
            # Inserts below allow explicit values for BY DEFAULT only.
            badg = set(st) & (set(gen) | managed_ids)
            if badg:
                raise ValueError(
                    f"cannot assign GENERATED/IDENTITY column(s) "
                    f"{sorted(badg)} — they are always derived/"
                    "allocated by the table"
                )
        for cl in ins_clauses:
            badg = set(cl["values"] or {}) & (set(gen) | managed_always)
            if badg:
                raise ValueError(
                    f"cannot assign GENERATED/IDENTITY column(s) "
                    f"{sorted(badg)} — they are always derived/"
                    "allocated by the table"
                )
        # pin the source: the duplicate check below and the staged
        # write must see the SAME rows even for non-deterministic
        # sources (rand(), re-reads of mutating tables) — lazy local
        # checkpoint materializes at the first job and every later
        # job (including commit retries) reads the materialization
        source = self._managed_entry(
            source, "merge_into", m0,
            add_missing=False,  # the clause plan NULL-aligns both sides
        ).localCheckpoint(eager=False)
        # Delta's multiple-matches error fires only when several
        # source rows would act on the SAME target row — so dup keys
        # are only fatal if (a) a matched clause exists and (b) the
        # key matches the target; the existence probe keeps the
        # common no-dup case to one cheap aggregate
        dup_keys = None
        if clauses:
            dk = (
                source.groupBy(*key_cols)
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter("_n > 1")
                .drop("_n")
            )
            if dk.limit(1).collect():
                dup_keys = dk
        bscond = _nullsafe_true(by_source_condition)
        upd_idx = [
            i for i, cl in enumerate(clauses) if cl["action"] == "update"
        ]
        del_idx = [
            i for i, cl in enumerate(clauses) if cl["action"] == "delete"
        ]
        custom_ins = [
            j for j, cl in enumerate(ins_clauses)
            if cl["values"] is not None
        ]

        def attempt(snap: _Snapshot):
            # constraints are checked on the RESULT below (the only
            # rows that get written) — source rows that never land
            # (deletes, condition-gated) may carry any values, the
            # apply_cdc convention
            base_v, live_map, snap_schema, dvs, m, *_ = snap
            src_b = self._with_bucket(source, m)
            live = list(live_map.values())
            schema_rec = self._schema_union_json(
                src_b, snap, merge_schema, "merge_into"
            )
            rec_schema = StructType.fromJson(json.loads(schema_rec))
            cols = [f.name for f in rec_schema.fields if f.name != "_bucket"]
            types = {f.name: f.dataType for f in rec_schema.fields}
            for st in all_sets + [
                cl["values"] for cl in ins_clauses if cl["values"]
            ]:
                unknown = set(st) - set(cols)
                if unknown:
                    raise ValueError(
                        f"merge_into: SET/values assigns unknown "
                        f"column(s) {sorted(unknown)} — table columns "
                        f"are {sorted(cols)}"
                    )
            # a by-source clause must examine EVERY target row (any
            # row may be unmatched) — the whole table is in scope,
            # Delta's documented full-scan cost for this clause, and
            # the touched-bucket scan job is skipped (its result
            # would be dead weight on every retry)
            if when_not_matched_by_source:
                hit = live
            else:
                hit = self._merge_hit_files(live, src_b, m)
            s_m = src_b.drop("_bucket").withColumn("_s", F.lit(1))
            if hit:
                t_m = self._open_files(
                    hit, snap_schema, dvs,
                    mapping=m.get("column_mapping") or {},
                ).drop("_bucket").withColumn("_t", F.lit(1))
            else:
                # empty/untouched target side: synthesize the s-only
                # shape so the clause logic below is the single path
                t_m = self.spark.createDataFrame(
                    [], s_m.schema
                ).withColumnRenamed("_s", "_t")
            # schema evolution: align BOTH sides to the commit's union
            # schema — new source columns NULL-fill on pre-existing
            # target rows, a narrower source NULL-fills its missing
            # columns (kept from the target on updates via src_cols
            # dispatch, NULL on inserts — the Delta SET */INSERT *
            # by-name mapping)
            src_cols = {c for c in s_m.columns if c != "_s"}
            # SET * never takes an identity column from the source: an
            # update keeps the row's identity (a BY DEFAULT source
            # carrying NULL there would otherwise re-allocate the id
            # of every matched row through the post-plan fill)
            src_cols -= set(m.get("identity_cols") or ())
            for c in cols:
                if c not in s_m.columns:
                    s_m = s_m.withColumn(c, F.lit(None).cast(types[c]))
                if c not in t_m.columns:
                    t_m = t_m.withColumn(c, F.lit(None).cast(types[c]))
            if dup_keys is not None and hit:
                clash = t_m.join(
                    dup_keys,
                    [t_m[k].eqNullSafe(dup_keys[k]) for k in key_cols],
                    "left_semi",
                ).limit(1).collect()
                if clash:
                    raise ValueError(
                        "merge_into: the source has multiple rows for "
                        f"key {tuple(clash[0][k] for k in key_cols)} "
                        "which matches the target — the merge result "
                        "would be order-dependent (Delta's "
                        "multiple-matches refusal); pre-aggregate the "
                        "source"
                    )
            if clauses:
                out = self._merge_clause_plan(
                    t_m, s_m, key_cols, cols, types, clauses,
                    upd_idx, del_idx, src_cols,
                    ins_clauses, custom_ins,
                    when_not_matched_by_source, by_source_set, bscond,
                )
            else:
                # no matched clause: inserts come from a key anti-join
                # (no join multiplication on duplicate source keys),
                # and the target side only rewrites for a by-source
                # clause — a pure insert-only merge rewrites NOTHING
                # (Delta's insert-only fast path)
                ins = None
                if ins_clauses:
                    insf = s_m.drop("_s").alias("s")
                    if hit:
                        tk = t_m.select(*key_cols)
                        insf = insf.join(
                            tk,
                            [
                                F.col(f"s.{k}").eqNullSafe(tk[k])
                                for k in key_cols
                            ],
                            "left_anti",
                        )
                    icidx = _ins_clause_idx(ins_clauses)
                    ins = insf.filter(icidx.isNotNull()).select(
                        *[
                            _ins_value_of(
                                c, icidx, ins_clauses, key_cols,
                                types,
                            ).cast(types[c]).alias(c)
                            for c in cols
                        ],
                        (
                            icidx.isin(custom_ins).eqNullSafe(
                                F.lit(True)
                            )
                            if custom_ins else F.lit(False)
                        ).alias("_upd"),
                    )
                if when_not_matched_by_source:
                    s_keys = (
                        src_b.select(*key_cols).distinct()
                        .withColumn("_sk", F.lit(1))
                    )
                    tf = t_m.drop("_t").alias("t").join(
                        s_keys,
                        [
                            F.col(f"t.{k}").eqNullSafe(s_keys[k])
                            for k in key_cols
                        ],
                        "left",
                    )
                    bs_hit = F.col("_sk").isNull() & bscond
                    if when_not_matched_by_source == "delete":
                        out = tf.filter(~bs_hit).select(
                            *[
                                F.col(f"t.{c}").cast(types[c]).alias(c)
                                for c in cols
                            ],
                            F.lit(False).alias("_upd"),
                        )
                    else:
                        def tval(c: str):
                            u = (
                                F.expr(by_source_set[c])
                                if c in by_source_set
                                else F.col(f"t.{c}")
                            )
                            return F.when(bs_hit, u).otherwise(
                                F.col(f"t.{c}")
                            )

                        out = tf.select(
                            *[
                                tval(c).cast(types[c]).alias(c)
                                for c in cols
                            ],
                            bs_hit.alias("_upd"),
                        )
                    if ins is not None:
                        out = out.unionByName(ins)
                else:
                    hit = []  # insert-only: no rewrite, pure append
                    out = ins
            # GENERATED ALWAYS AS: recompute on updated rows from the
            # post-assignment values (second projection); inserts were
            # computed by _with_generated, kept rows carry through
            if upd_idx or custom_ins \
                    or when_not_matched_by_source == "update":
                for gname, gexpr in gen.items():
                    if gname in out.columns:
                        out = out.withColumn(
                            gname,
                            F.when(
                                F.col("_upd"),
                                F.expr(gexpr).cast(types[gname]),
                            ).otherwise(F.col(gname)),
                        )
            out = out.drop("_upd")
            self._check_constraints(out, "merge_into result", snap.constraints)
            outb, id_upd = self._fill_identity(self._with_bucket(out, m), m)
            added = self._stage(outb, m)
            record = {
                "op": "merge_into",
                "add": added,
                "remove": [e["path"] for e in hit],
                "schema_json": schema_rec,
                "note": (
                    f"merge_into matched={[c['action'] for c in clauses]} "
                    f"not_matched={len(ins_clauses)}-clause "
                    f"by_source={when_not_matched_by_source}"
                ),
            }
            if id_upd:
                record["meta_update"] = id_upd
            return record, base_v + 1

        return self._transact(attempt, max_retries, txn, auto_compact=True)

    @staticmethod
    def _merge_clause_plan(
        t_m: DataFrame,
        s_m: DataFrame,
        key_cols: list[str],
        cols: list[str],
        types: dict,
        clauses: list[dict],
        upd_idx: list[int],
        del_idx: list[int],
        src_cols: set,
        ins_clauses: list[dict],
        custom_ins: list[int],
        when_not_matched_by_source: str | None,
        by_source_set: dict[str, str] | None,
        bscond,
    ) -> DataFrame:
        """The matched-clause merge plan: ONE full-outer join on the
        keys, a first-true-condition clause index per matched row AND
        per unmatched source row (Delta's ordered-clause precedence on
        both sides), and a single projection resolving every output
        column — no per-clause passes over the target. Valid only
        under the multiple-matches refusal (≤ 1 source row per matched
        target row)."""
        joined = t_m.alias("t").join(
            s_m.alias("s"),
            [
                F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
                for k in key_cols
            ],
            "full_outer",
        )
        is_m = F.col("t._t").isNotNull() & F.col("s._s").isNotNull()
        is_t = F.col("t._t").isNotNull() & F.col("s._s").isNull()
        is_s = F.col("s._s").isNotNull() & F.col("t._t").isNull()

        # winning clause index: first clause whose condition holds
        chain = None
        for i, cl in enumerate(clauses):
            c = _nullsafe_true(cl["condition"])
            chain = (F.when if chain is None else chain.when)(c, F.lit(i))
        cidx = chain.otherwise(F.lit(None).cast("int"))
        # cidx is NULL when NO clause claims the row — isin() on NULL
        # is UNKNOWN, and an UNKNOWN drop-flag would silently drop the
        # row through `keep & ~drop`; eqNullSafe pins it to False
        matched_del = (
            (is_m & cidx.isin(del_idx).eqNullSafe(F.lit(True)))
            if del_idx else F.lit(False)
        )
        upd = (
            (is_m & cidx.isin(upd_idx).eqNullSafe(F.lit(True)))
            if upd_idx else F.lit(False)
        )
        bs_upd = (
            (is_t & bscond)
            if when_not_matched_by_source == "update"
            else F.lit(False)
        )
        drop = matched_del
        if when_not_matched_by_source == "delete":
            drop = drop | (is_t & bscond)
        keep = (is_t | is_m) & ~drop
        icidx = _ins_clause_idx(ins_clauses) if ins_clauses else None
        if icidx is not None:
            keep = keep | (is_s & icidx.isNotNull())
        ins_regen = (
            (is_s & icidx.isin(custom_ins).eqNullSafe(F.lit(True)))
            if custom_ins else F.lit(False)
        )

        def value_of(c: str):
            w = None
            if icidx is not None:
                w = F.when(
                    is_s, _ins_value_of(c, icidx, ins_clauses,
                                        key_cols, types)
                )
            for i in upd_idx:
                st = clauses[i]["set"]
                if st is None:
                    # SET *: by-name mapping — source columns update,
                    # table columns the source lacks keep the target
                    # value (Delta's schema-evolution rule)
                    u = (
                        F.col(f"s.{c}") if c in src_cols
                        else F.col(f"t.{c}")
                    )
                else:
                    u = F.expr(st[c]) if c in st else F.col(f"t.{c}")
                w = (F.when if w is None else w.when)(
                    is_m & (cidx == i), u
                )
            if when_not_matched_by_source == "update":
                u = (
                    F.expr(by_source_set[c])
                    if c in by_source_set
                    else F.col(f"t.{c}")
                )
                w = (F.when if w is None else w.when)(bs_upd, u)
            if w is None:
                return F.col(f"t.{c}")
            return w.otherwise(F.col(f"t.{c}"))

        return joined.filter(keep).select(
            *[value_of(c).cast(types[c]).alias(c) for c in cols],
            (upd | bs_upd | ins_regen).alias("_upd"),
        )

    def apply_cdc(
        self,
        df: DataFrame,
        op_col: str = "op",
        delete_label: str = "D",
        txn: dict | None = None,
        max_retries: int = 5,
        merge_schema: bool = False,
    ) -> int:
        """Apply a CDC batch — one atomic commit resolving a mixed
        insert/update/DELETE change set against the table (the Delta
        ``APPLY CHANGES`` / ``MERGE WHEN MATCHED THEN DELETE`` shape;
        ``merge_upsert`` alone cannot retract a key). ``df`` carries
        the table columns plus ``op_col``: rows labeled
        ``delete_label`` retract their key, everything else upserts.

        Ordering contract (late-CDC safe): per key, existing row and
        every incoming change compete by ``order_col`` — the HIGHEST
        wins, incoming beating existing on ties (a replayed change
        must win over the row it produced). If the winner is a delete,
        the key leaves the table; an out-of-order delete older than
        the current row is correctly ignored, exactly Delta's
        sequence-number semantics.

        Ties among INCOMING changes are resolved deterministically:
        at equal ``order_col``, a DELETE beats an upsert (a retraction
        at the same sequence number wins — the conservative reading),
        and any remaining equal-rank upserts are ordered by a stable
        content hash (``xxhash64`` over the data columns), so replaying
        the same batch always picks the same winner and the table state
        stays hash-checkable.

        Commits ``op="merge"``, so CDF materialization, time travel,
        and the streaming source need zero new cases: a retracted key
        is simply absent from the post-image and the key-paired diff
        emits its ``delete`` row. Cost ∝ touched buckets, like every
        keyed write."""
        df = self._managed_entry(df, "apply_cdc", self.meta)

        def bucket_hits(live, incoming, m):
            # every file in a touched bucket (plus unadopted bucket -1):
            # existing duplicates there consolidate into the winner
            touched = {
                r["_bucket"]
                for r in incoming.select("_bucket").distinct().collect()
            }
            return [
                e for e in live
                if e["bucket"] in touched or e["bucket"] == -1
            ]

        return self._keyed_merge(
            # null-safe: a NULL op is an upsert
            df.withColumn(
                "_del", F.col(op_col).eqNullSafe(F.lit(delete_label))
            ).drop(op_col),
            bucket_hits, "apply_cdc", txn, max_retries, merge_schema,
        )

    def append(self, df: DataFrame, txn: dict | None = None,
               max_retries: int = 5, merge_schema: bool = False,
               _record_extra: dict | None = None,
               _precommit=None) -> int:
        """Atomic blind insert — the K3 insert-event path
        (kafkaConsumer.js Mongo insertOne) as a transactional append:
        rows are staged as NEW files (no read-modify-write, no existing
        file touched) and one commit makes them visible. Duplicate keys
        are allowed (append-only event-log semantics); use
        ``merge_upsert`` for keyed latest-wins tables. Conflicts just
        re-claim the next version — the staged files are already
        position-independent.

        ``merge_schema=True`` = add-column evolution, same contract as
        ``merge_upsert``: the commit records the WIDENED schema (old
        fields + incoming's new ones), so the table never silently
        narrows when an append carries fewer columns than the snapshot.
        """
        df = self._managed_entry(df, "append", self.meta)
        staged_as, filled, id_upd, staged = None, None, None, None

        def attempt(snap: _Snapshot):
            nonlocal staged_as, filled, id_upd, staged
            # Schema and constraints are re-derived from the attempt's
            # snapshot: an append racing a concurrent
            # merge_upsert(merge_schema=True) must not re-commit a
            # schema_json computed before the race — replay treats the
            # newest commit's schema as authoritative, so a stale
            # narrower record would silently drop the column the other
            # writer just added.
            v, m = snap.version, snap.meta
            layout = (m["n_buckets"], self._identity_counters(m))
            if staged_as != layout:
                # stage when missing, or when a rebucket() or a
                # concurrent identity allocation won a race since: the
                # staged files carry bucket labels under the OLD
                # modulus / ids under the OLD watermark — restage (old
                # files become vacuumable orphans). Staged files are
                # position-independent otherwise, so an unrelated lost
                # race reuses them.
                filled, id_upd = self._fill_identity(
                    self._with_bucket(df, m), m
                )
                staged, staged_as = self._stage(filled, m), layout
            schema_rec = self._schema_union_json(
                filled, snap, merge_schema, "append"
            )
            self._check_constraints(df, "append batch", snap.constraints)
            if _precommit is not None:
                # per-attempt validator (copy_into's duplicate-load
                # guard): runs AFTER the snapshot read, so a commit it
                # would have needed to see either is visible here or
                # claims v+1 first and fails this attempt
                _precommit()
            record = {
                "op": "append",
                "add": staged,
                "schema_json": schema_rec,
            }
            if id_upd:
                record["meta_update"] = id_upd
            if _record_extra:
                record.update(_record_extra)
            return record, v + 1

        return self._transact(attempt, max_retries, txn, auto_compact=True)

    def copied_files(self) -> set[str]:
        """Absolute source paths every earlier :meth:`copy_into`
        ingested — the skip set. Replayed from the copied-set SIDE
        STRUCTURE (delta segments folded every ``_COPIED_FOLD_EVERY``
        checkpoints — see :meth:`_checkpoint_copied`) plus the commit
        records after its floor, so the scan is O(commits since the
        last checkpoint) like every other metadata read.

        Metadata-size scaling contract: the set is CUMULATIVE, but the
        WRITE side is O(delta) — each checkpoint serializes only the
        paths copied since the last segment, and the periodic fold
        amortizes to O(total / FOLD_EVERY). The READ here unions at
        most FOLD_EVERY segment files (total bytes ∝ set size — the
        irreducible cost of an exact skip set; ~100 bytes/path, one
        read per ``copy_into``). Histories past ~10⁷ files should
        still prefer :meth:`auto_ingest` (stream-checkpoint state) or
        rotated landing directories."""
        versions = _list_versions(self.table_dir)
        target = versions[-1] if versions else 0
        from_v, seen = _copied_base(self.table_dir, target)
        for v in versions:
            if v <= from_v:
                continue
            for e in _read_record(self.table_dir, v).get(
                "copied_files", ()
            ):
                seen.add(e["path"])
        return seen

    def copy_into(
        self,
        paths,
        file_format: str = "parquet",
        options: dict | None = None,
        txn: dict | None = None,
        max_retries: int = 5,
        merge_schema: bool = False,
        force: bool = False,
    ) -> tuple[int, int]:
        """Idempotent file ingestion — Delta's ``COPY INTO``: load the
        given files/globs as ONE atomic append whose commit records
        each source file's identity (absolute path + size + mtime), and
        SKIP files an earlier ``copy_into`` already loaded. Re-running
        the same command after a crash, or on a GROWING landing
        directory, ingests exactly the not-yet-loaded files — the
        exactly-once batch-ingestion contract without a scheduler
        keeping state (the log IS the state). ``force=True`` reloads
        regardless (Delta's COPY_OPTIONS force).

        Skip identity is the PATH (Delta's rule): a file modified in
        place under the same name is NOT reloaded — landing zones are
        append-only by convention; size/mtime are recorded for audit.
        Returns ``(version, n_files_loaded)``; nothing new commits
        nothing and returns the current version.

        Scale shape: the skip set is a checkpoint-aware metadata read;
        the load is one explicit-file-list scan of ONLY the new files
        feeding the ordinary append path (bucket + stage + commit), so
        re-running on a million-file directory with ten new files
        reads ten files."""
        pats = [paths] if isinstance(paths, str) else list(paths)
        cand: list[str] = []
        unmatched = 0  # dir-walk files skipped for extension mismatch
        walked_dir = False
        for p in pats:
            hits = sorted(glob.glob(p))
            if not hits and not glob.has_magic(p):
                raise FileNotFoundError(f"copy_into: no such file {p!r}")
            for h in hits:
                if os.path.isdir(h):
                    # a landing DIRECTORY loads the files matching the
                    # load format's extension (Delta's COPY INTO FROM
                    # dir), skipping writer metadata (_SUCCESS, .crc,
                    # dotfiles) AND strays (notes.txt, half-uploaded
                    # *.tmp) that would otherwise fail every re-run.
                    # Compressed suffixes count (.csv.gz carries
                    # ".csv."), and Spark writes format "text" as .txt
                    tok = {"text": "txt"}.get(
                        file_format.lower(), file_format.lower()
                    ).lstrip(".")
                    exts = tuple(
                        "." + tok + c
                        for c in (
                            "", ".gz", ".bz2", ".zst", ".snappy",
                            ".lz4", ".deflate",
                        )
                    )
                    walked_dir = True
                    for root, dnames, names in os.walk(h):
                        # prune hidden/metadata DIRECTORIES in place —
                        # Spark's own listing skips them; descending
                        # into _temporary/.spark-staging would ingest
                        # in-flight task output as committed data
                        dnames[:] = [
                            d for d in dnames
                            if not d.startswith(("_", "."))
                        ]
                        for nm in names:
                            if nm.startswith(("_", ".")):
                                continue
                            # exact extension or a KNOWN compression
                            # suffix — a bare infix match would ingest
                            # half-uploaded *.parquet.tmp files
                            if nm.lower().endswith(exts):
                                cand.append(os.path.join(root, nm))
                            elif _is_foreign_data_file(nm):
                                unmatched += 1
                else:
                    cand.append(h)
        files = sorted(
            dict.fromkeys(
                os.path.abspath(f) for f in cand if os.path.isfile(f)
            )
        )
        if not files and walked_dir and unmatched:
            # a landing DIRECTORY holding DATA files of another format
            # is a mis-specified file_format, not an up-to-date zone —
            # a silent (version, 0) would mask it forever. A genuinely
            # EMPTY directory stays a silent no-op (the cron-poll
            # case), and so does one holding only doc/metadata strays
            # (README, manifest.json, …) — _is_foreign_data_file gates
            # the raise so a stray can never hard-fail every poll.
            raise FileNotFoundError(
                f"copy_into: directory source matched 0 {file_format!r} "
                f"files but holds {unmatched} data file(s) of another "
                "format — wrong file_format, or rename the landing "
                "files"
            )
        if max_retries < 1:
            raise ValueError("copy_into: max_retries must be >= 1")
        if force:
            if not files:
                return self.latest_version(), 0
            return self._copy_load(
                files, file_format, options, txn, max_retries,
                merge_schema, None,
            ), len(files)
        # OCC against CONCURRENT copy_into of overlapping files: the
        # skip set is recomputed per round, and a per-attempt precommit
        # check inside append aborts the commit if another writer
        # landed any of OUR files first — then this loop re-plans with
        # those files dropped. An unrelated concurrent commit keeps
        # append's cheap internal retry (no reload).
        last: _ConcurrentCopy | None = None
        for _ in range(max_retries):
            seen = self.copied_files()
            new = [f for f in files if f not in seen]
            if not new:
                return self.latest_version(), 0
            try:
                return self._copy_load(
                    new, file_format, options, txn, max_retries,
                    merge_schema, set(new),
                ), len(new)
            except _ConcurrentCopy as exc:
                last = exc
                continue
        raise last  # type: ignore[misc]

    def _copy_load(
        self, files, file_format, options, txn, max_retries,
        merge_schema, guard_set,
    ) -> int:
        if not files:
            return self.latest_version()
        reader = self.spark.read.format(file_format)
        if options:
            reader = reader.options(**options)
        df = reader.load(list(files))
        marker = [
            {
                "path": f,
                "bytes": os.path.getsize(f),
                "mtime_ms": int(os.path.getmtime(f) * 1000),
            }
            for f in files
        ]

        def check() -> None:
            if guard_set and guard_set & self.copied_files():
                raise _ConcurrentCopy(
                    "copy_into: a concurrent copy_into committed "
                    "overlapping source files — re-planning the load"
                )

        return self.append(
            df,
            txn=txn,
            max_retries=max_retries,
            merge_schema=merge_schema,
            _record_extra={"copied_files": marker},
            _precommit=check if guard_set else None,
        )

    def rebucket(self, n_buckets: int, max_retries: int = 5) -> int:
        """Bucket-count EVOLUTION — the table-lifecycle operation a
        growing deployment needs when the create-time bucket count no
        longer fits the data (the problem Delta's liquid clustering
        exists to solve; classic hash-bucketed tables force a full
        manual migration). One layout-only commit rewrites the live
        set under the new ``pmod(xxhash64(keys), n_buckets)`` and
        patches the table meta via a ``meta_update`` record, replayed
        like schema: every later write buckets under the new modulus,
        time travel before the commit still sees (and correctly reads)
        the old layout, CDF is empty (compact rule — the multiset is
        preserved exactly), and the streaming source skips it.

        Concurrent writers are safe by the same optimistic machinery
        as every other commit: a writer that staged under the old
        modulus loses the version race and re-stages (append's
        restage guard / merge's per-attempt rebucketing / the
        DataSource writer's plan-vs-commit check).

        Scale shape: one full rewrite — repartition on the new bucket
        + within-bucket key sort, the same shuffle a compact() pays.
        That cost is inherent to changing the hash modulus; what the
        commit buys is that it happens ONCE, online, instead of as a
        stop-the-world table migration."""
        if n_buckets < 1:
            raise ValueError("rebucket: n_buckets must be >= 1")

        def attempt(snap: _Snapshot):
            base_v, live_map, schema_json, dvs, m, *_ = snap
            live = list(live_map.values())
            if m["n_buckets"] == n_buckets:
                return None, base_v  # already there — no-op, no commit
            df = self._open_files(
                live, schema_json, dvs,
                mapping=m.get("column_mapping") or {},
            ).drop("_bucket") if live else None
            if df is None:
                added = []
            else:
                rebucketed = df.withColumn(
                    "_bucket",
                    F.pmod(
                        F.xxhash64(*[F.col(c) for c in m["key_cols"]]),
                        F.lit(n_buckets),
                    ),
                )
                added = self._stage(rebucketed, m)
            record = {
                "op": "compact",  # layout-only: multiset preserved
                "note": f"rebucket {m['n_buckets']} -> {n_buckets}",
                "add": added,
                "remove": [e["path"] for e in live],
                "schema_json": schema_json,
                "meta_update": {"n_buckets": int(n_buckets)},
            }
            return record, base_v + 1

        return self._transact(attempt, max_retries)

    def compact(
        self,
        max_retries: int = 5,
        small_file_rows: int | None = None,
        target_bytes: int | None = None,
        where: str | None = None,
    ) -> int:
        """OPTIMIZE: rewrite live files into one file per bucket — a
        LAYOUT-ONLY commit (the row multiset is preserved exactly;
        latest-wins semantics stay where they belong, in merge_upsert).
        Small files accumulate from appends; time travel to versions
        before the compaction still sees the old layout until vacuum.

        ``small_file_rows`` switches to Delta-OPTIMIZE-style PARTIAL
        bin-packing — the only shape that survives 100 TB, where a
        full-table rewrite per compaction is its own denial of
        service: only files that are actually fragmentation get
        rewritten — files smaller than the threshold (or with missing
        row stats), plus any file carrying a deletion vector (the
        rewrite MATERIALIZES it). A bucket rewrites only when that
        buys something: ≥2 small files to merge, or ≥1 vectored file
        to clean. Untouched files (and their absence from add/remove)
        carry forward byte-for-byte — including any OTHER bucket's
        deletion vectors, which replay keeps because their files stay
        live. Cost ∝ fragmented bytes, never table size.

        ``target_bytes`` is the SIZE-AWARE policy (Delta OPTIMIZE's
        file-size contract, driven by the physical ``bytes`` every
        add-entry records at stage time): per bucket, files smaller
        than the target (plus DV carriers) are first-fit-decreasing
        bin-packed into bins whose input sizes sum to ≤ target, and
        each bin rewrites into ONE output file — already-compact
        files (≥ target) are never rewritten, and a bin that would
        rewrite a single vector-free file is dropped as no-gain. The
        whole rewrite is one job: a broadcast file→bin map joined on
        the scan's file identity, repartitioned by bin — shuffle
        volume ∝ fragmented bytes only. Mutually exclusive with
        ``small_file_rows``.

        ``where`` is Delta's ``OPTIMIZE ... WHERE`` partition scope:
        the rewrite considers ONLY files whose partition values
        satisfy the predicate (partition columns only — refused
        otherwise; see :meth:`_scope_entries`). The 100 TB maintenance
        pattern: compact yesterday's partition after its ingest wave,
        touch nothing else — out-of-scope files (and their deletion
        vectors) carry forward byte-for-byte."""
        if small_file_rows is not None and target_bytes is not None:
            raise ValueError(
                "pass small_file_rows OR target_bytes, not both"
            )

        _size_memo: dict[str, int] = {}

        def ebytes(e: dict) -> int:
            b = e.get("bytes")
            if b:
                return int(b)
            # legacy entry (pre-`bytes` log): stat once per path — the
            # packing loop re-queries sizes O(bins) times per file
            p = e["path"]
            if p not in _size_memo:
                try:
                    _size_memo[p] = os.path.getsize(
                        os.path.join(self.table_dir, p)
                    )
                except OSError:
                    _size_memo[p] = 0
            return _size_memo[p]

        def attempt(snap: _Snapshot):
            base_v, _, schema_json, dvs, m, *_ = snap
            mapping = m.get("column_mapping") or {}
            live = self._scope_entries(snap, where)
            if not live:
                return None, base_v
            bins: list[tuple[int, list[dict]]] | None = None
            adopt: list[dict] = []
            if target_bytes is not None:
                by_bucket: dict[int, list[dict]] = {}
                for e in live:
                    if e["bucket"] == -1:
                        # converted (bucket-spanning) file: binpack
                        # cannot place it in one bin — ADOPT it into
                        # the bucketed layout via a normal rewrite in
                        # the same commit
                        adopt.append(e)
                        continue
                    by_bucket.setdefault(e["bucket"], []).append(e)
                bins = []
                for bucket, es in sorted(by_bucket.items()):
                    cand = [
                        e for e in es
                        if ebytes(e) < target_bytes or e["path"] in dvs
                    ]
                    if not (
                        len(cand) >= 2
                        or any(e["path"] in dvs for e in cand)
                    ):
                        continue
                    cand.sort(key=ebytes, reverse=True)
                    packed: list[list] = []  # [size, [entries]]
                    for e in cand:
                        for b in packed:
                            if b[0] + ebytes(e) <= target_bytes:
                                b[0] += ebytes(e)
                                b[1].append(e)
                                break
                        else:
                            packed.append([ebytes(e), [e]])
                    bins.extend(
                        (bucket, b[1]) for b in packed
                        if len(b[1]) > 1
                        or any(e["path"] in dvs for e in b[1])
                    )
                if not bins and not adopt:
                    return None, base_v  # every bucket already compact
                touched = [e for _, es in bins for e in es] + adopt
            elif small_file_rows is None:
                touched = live
            else:
                by_bucket = {}
                for e in live:
                    by_bucket.setdefault(e["bucket"], []).append(e)
                touched = []
                for es in by_bucket.values():
                    cand = [
                        e
                        for e in es
                        if (e.get("stats") or {}).get("rows") is None
                        or e["stats"]["rows"] < small_file_rows
                        or e["path"] in dvs
                    ]
                    if len(cand) >= 2 or any(
                        e["path"] in dvs for e in cand
                    ):
                        touched.extend(cand)
                if not touched:
                    return None, base_v  # nothing fragmented — no-op commit
            # DV-aware read: compaction MATERIALIZES deletion vectors —
            # the rewritten files hold only surviving rows and the
            # replay drops the vectors with the removed files
            if bins is not None:
                added = []
                bin_touched = [e for _, es in bins for e in es]
                if bin_touched:
                    # one file per BIN: join the scan's per-row file
                    # identity to a broadcast file→bin map, lay out by
                    # bin
                    bin_to_bucket: dict[int, int] = {}
                    file_to_bin: list[tuple[str, int]] = []
                    for bid, (bucket, es) in enumerate(bins):
                        bin_to_bucket[bid] = bucket
                        for e in es:
                            file_to_bin.append(
                                (_path_sfx(e["path"]), bid)
                            )
                    src = self._open_files(
                        bin_touched, schema_json,
                        dvs, keep_meta=True, mapping=mapping,
                    )
                    bindf = self.spark.createDataFrame(
                        file_to_bin, "_file string, _bin int"
                    )
                    df = (
                        src.join(F.broadcast(bindf), "_file", "inner")
                        .drop("_file", "_rowpos")
                    )
                    # the log schema excludes `_bucket` (it travels in
                    # the data) — recompute it like the per-bucket path
                    # does, so bin outputs stay explicit-file-list
                    # readable
                    df = self._with_bucket(df.drop("_bucket"), m)
                    added = self._stage(
                        df, m, bin_col="_bin", bin_to_bucket=bin_to_bucket
                    )
                if adopt:
                    adf = self._with_bucket(
                        self._open_files(
                            adopt, schema_json, dvs, mapping=mapping
                        ).drop("_bucket"),
                        m,
                    )
                    added = added + self._stage(adf, m)
            else:
                df = self._with_bucket(
                    self._open_files(
                        touched, schema_json, dvs, mapping=mapping
                    ).drop("_bucket"),
                    m,
                )
                added = self._stage(df, m)
            record = {
                "op": "compact",
                "add": added,
                "remove": [e["path"] for e in touched],
                "schema_json": schema_json,
            }
            if target_bytes is not None:
                record["note"] = f"binpack target_bytes={int(target_bytes)}"
            return record, base_v + 1

        return self._transact(attempt, max_retries)

    def _scope_entries(
        self, snap: _Snapshot, where: str | None
    ) -> list[dict]:
        """Delta's ``OPTIMIZE/ZORDER ... WHERE``: restrict a
        maintenance rewrite of ``snap``'s live files to those whose
        PARTITION VALUES satisfy ``where`` — partition columns only
        (Delta's rule: a row-level predicate cannot scope a whole-file
        rewrite). The predicate is evaluated by SPARK over the distinct
        partition tuples (typed
        through the table schema — real SQL semantics, no hand-rolled
        comparator), a metadata-sized frame of O(live partitions)
        rows. Tuples missing a recorded value for some column (the
        hive string-null adoption case) evaluate with NULL — SQL's
        three-valued WHERE keeps them out of scope unless the
        predicate is null-true."""
        live = list(snap.live.values())
        if where is None:
            return live
        schema_json = snap.schema_json
        pby = list(snap.meta.get("partition_by") or ())
        if not pby:
            raise ValueError(
                "compact/zorder WHERE requires a partitioned table — "
                "a predicate can only scope whole files via their "
                "partition values"
            )
        mapping = snap.meta.get("column_mapping") or {}
        rev = {ph: lg for lg, ph in mapping.items()}
        logical_pby = [rev.get(p, p) for p in pby]
        if schema_json is not None:
            others = [
                f.name
                for f in StructType.fromJson(
                    json.loads(schema_json)
                ).fields
                if f.name not in logical_pby
            ]
            hit = [c for c in others if _expr_mentions(where, c)]
            if hit:
                raise ValueError(
                    f"compact/zorder WHERE references non-partition "
                    f"column(s) {hit} — only partition columns "
                    f"{logical_pby} can scope a file-level rewrite"
                )
            by_phys = {
                mapping.get(f.name, f.name): f
                for f in StructType.fromJson(
                    json.loads(schema_json)
                ).fields
            }
        else:
            by_phys = {}
        tuples = sorted(
            {
                tuple((e.get("part") or {}).get(c) for c in pby)
                for e in live
            },
            key=lambda t: tuple((v is None, v) for v in t),
        )
        fields = [StructField("_i", LongType())]
        rows = []
        for i, t in enumerate(tuples):
            vals = []
            for p, v in zip(pby, t):
                tname = (
                    by_phys[p].dataType.typeName()
                    if p in by_phys
                    else "string"
                )
                if v is not None and tname == "date":
                    v = datetime.date(1970, 1, 1) + datetime.timedelta(
                        days=int(v)
                    )
                elif v is not None and tname in (
                    "byte", "short", "integer", "long",
                ):
                    v = int(v)
                vals.append(v)
            rows.append((i, *vals))
        fields += [
            StructField(
                rev.get(p, p),
                by_phys[p].dataType if p in by_phys else StringType(),
            )
            for p in pby
        ]
        kept_i = {
            r["_i"]
            for r in self.spark.createDataFrame(
                rows, StructType(fields)
            )
            .filter(F.expr(where).eqNullSafe(F.lit(True)))
            .select("_i")
            .collect()
        }
        kept_tuples = {tuples[i] for i in kept_i}
        return [
            e
            for e in live
            if tuple((e.get("part") or {}).get(c) for c in pby)
            in kept_tuples
        ]

    def optimize_zorder(
        self,
        cols: tuple,
        bits: int = 8,
        max_rows_per_file: int = 1_000_000,
        max_retries: int = 5,
        where: str | None = None,
    ) -> int:
        """OPTIMIZE ZORDER BY (Delta's multi-dimension clustering): a
        LAYOUT-ONLY commit that rewrites the live set with each
        bucket's rows ordered along the Morton curve of ``cols``
        (numeric), split into ≤ ``max_rows_per_file``-row files. Each
        file's parquet footer then carries NARROW min/max ranges on
        every z-ordered column, so ``read(prune=...)`` / the log-level
        skip test (``txskip.file_predicate``) skip most files for a
        range predicate on ANY of the clustered dimensions —
        single-column sort only serves its leading column. The row multiset is preserved
        exactly; the commit records ``op="compact"`` (plus a zorder
        note), so CDF, time travel and the streaming source treat it
        as the data-preserving rewrite it is, with zero new cases.

        Scale shape: the z-value is per-row shift/mask arithmetic on
        linearly bucketized values (one 1-row global min/max aggregate
        broadcast; no rank pass, no unpartitioned Window); the rewrite
        is one repartition("_pb") + within-partition sort — the same
        shuffle a plain compact pays. Degenerate constant columns get
        level 0 everywhere (clustering no-op, correctness unaffected).

        ``where`` scopes the rewrite to matching PARTITIONS (Delta's
        ``OPTIMIZE ... WHERE ... ZORDER BY``; see :meth:`compact`) —
        re-cluster the partition that just finished ingesting, leave
        the rest alone.
        """
        if not cols:
            raise ValueError("optimize_zorder needs at least one column")

        def attempt(snap: _Snapshot):
            base_v, _, schema_json, dvs, m, *_ = snap
            live = self._scope_entries(snap, where)
            if not live:
                return None, base_v
            df = self._with_bucket(
                self._open_files(
                    live, schema_json, dvs,
                    mapping=m.get("column_mapping") or {},
                ).drop("_bucket"),
                m,
            )
            # global [min, max] per dimension — one broadcast row
            mm = df.agg(
                *[F.min(c).cast("double").alias(f"__mn_{c}") for c in cols],
                *[F.max(c).cast("double").alias(f"__mx_{c}") for c in cols],
            )
            z = F.lit(0).cast("long")
            withmm = df.join(F.broadcast(mm))
            k = len(cols)
            for j, c in enumerate(cols):
                span = F.col(f"__mx_{c}") - F.col(f"__mn_{c}")
                level = (
                    F.when(
                        span > 0,
                        F.least(
                            F.lit((1 << bits) - 1),
                            F.floor(
                                (F.col(c).cast("double") - F.col(f"__mn_{c}"))
                                / span
                                * (1 << bits)
                            ),
                        ),
                    )
                    .otherwise(F.lit(0))
                    .cast("long")
                )
                for i in range(bits):
                    z = z + (
                        F.shiftright(level, i).bitwiseAND(F.lit(1))
                        * F.lit(1 << (i * k + j))
                    ).cast("long")
            staged = self._stage(
                withmm.withColumn("_zv", z).drop(
                    *[f"__mn_{c}" for c in cols],
                    *[f"__mx_{c}" for c in cols],
                ),
                m,
                order_cols=("_zv",),
                max_rows_per_file=max_rows_per_file,
            )
            record = {
                "op": "compact",
                "zorder": {"cols": list(cols), "bits": bits},
                "add": staged,
                "remove": [e["path"] for e in live],
                "schema_json": schema_json,
            }
            return record, base_v + 1

        return self._transact(attempt, max_retries)

    def delete_where(
        self,
        predicate: str,
        prune: dict[str, tuple] | None = None,
        max_retries: int = 5,
        mode: str = "copy_on_write",
        max_dv_rows: int = 100_000,
        eq: dict | None = None,
        isin: dict | None = None,
    ) -> tuple[int, int]:
        """Row-level ``DELETE WHERE`` — both lakehouse strategies:

        - ``mode="copy_on_write"`` (default): rewrite ONLY the files
          that actually contain matching rows, drop the matches, commit
          add(survivor files) + remove(touched files) atomically.
          Untouched files carry forward byte-for-byte.
        - ``mode="merge_on_read"``: no data file is touched — the
          commit records a DELETION VECTOR (per-file physical row
          positions) and every reader anti-joins it out (the Delta DV /
          Iceberg positional-delete shape). Right for small targeted
          deletes (GDPR point lookups) where rewriting a 1 GB file to
          drop 3 rows is the wrong trade; ``compact()`` later
          MATERIALIZES the vectors. Falls back to copy-on-write when
          the matches exceed ``max_dv_rows`` (a vector the size of the
          file has no read-cost advantage).

        Returns ``(version, rows_deleted)``; ``(current, 0)`` with NO
        commit when nothing matches.

        Two phases, like Delta:
        1. find touched files — one scan with the predicate pushed into
           the parquet reader (row-group stats skip most files' data);
           ``prune`` / ``eq`` / ``isin`` (the ``read`` arguments, with
           their meaning: ranges, point lookups with bloom probes,
           value lists) skip provably-unmatchable files at the LOG
           level first, so the find scan opens only candidates;
        2. rewrite the touched files minus matching rows, preserving
           each row's bucket (``_bucket`` travels in the data).

        The commit is a generic rewrite, so downstream machinery needs
        no new cases: ``table_changes`` derives row-level ``delete``
        entries from the pre/post multiset diff, time travel still sees
        the rows before the commit, and the streaming source refuses
        the commit unless ``ignorechanges=true`` (a delete is not an
        append). At 100 TB cost ∝ touched files, never table size —
        the reason copy-on-write deletes are tractable at all.
        """

        def attempt(snap: _Snapshot):
            base_v = snap.version
            _, dv, touched, n_del = self._find_matches(
                "delete_where", predicate, (prune, eq, isin), snap,
                max_dv_rows if mode == "merge_on_read" else None,
            )
            if not n_del:
                return None, (base_v, 0)
            record = {
                "op": "delete",
                # a deletion vector touches no data file
                "add": [] if dv else self._stage_survivors(
                    touched, snap, predicate
                ),
                "remove": [e["path"] for e in touched],
                **({"dv": dv} if dv else {}),
                "schema_json": snap.schema_json,
                "predicate": predicate,
            }
            return record, (base_v + 1, n_del)

        return self._transact(attempt, max_retries)

    def _find_matches(
        self,
        op: str,
        predicate: str,
        skip: tuple[dict | None, dict | None, dict | None],
        snap: _Snapshot,
        max_dv_rows: int | None = None,
    ) -> tuple[DataFrame | None, dict | None, list[dict], int]:
        """The ONE find phase of the predicate-scoped DML
        (``delete_where``, ``update_where``, ``replace_where``) over
        the live files of ``snap``, the attempt's snapshot →
        ``(matches, dv, touched, n)``.

        ``skip = (prune, eq, isin)`` — the ``read`` arguments of those
        names, with their meaning — skips provably-unmatchable files at
        the LOG level (stats, partition values, blooms), so the find
        scan opens only candidates; the scan is DV-aware (already-deleted
        rows must not match again), the predicate pushes into the
        parquet reader, and ``matches`` carries each match's ``_file``
        and physical ``_rowpos``. No candidate → ``(None, None, [], 0)``.

        ``max_dv_rows`` set (merge_on_read): collect at most
        ``max_dv_rows + 1`` positions BEFORE materializing them — a
        broad predicate falls back to the rewrite path without ever
        shipping the full position set to the driver (the limit caps
        driver memory by construction). Within the bound, ``dv`` maps
        each STORED entry path to its sorted positions and ``n`` is
        their count; ``touched`` is empty.

        Otherwise ``dv`` is None and ONE aggregate over the find scan
        yields both the ``touched`` entries and ``n`` (the per-file
        match counts' sum), so no second job re-scans the files for
        the count."""
        mapping = snap.meta.get("column_mapping") or {}
        keep = file_predicate(*skip, mapping=mapping)
        cand = [e for e in snap.live.values() if keep(e)]
        if not cand:
            return None, None, [], 0
        matches = self._open_files(
            cand, snap.schema_json, snap.dvs, keep_meta=True,
            mapping=mapping,
        ).filter(predicate)
        if max_dv_rows is not None:
            by_sfx = {_path_sfx(e["path"]): e["path"] for e in cand}
            # only the suffix->path INVERSION needs uniqueness;
            # copy-on-write merely over-selects touched files on a
            # collision (the survivor rewrite stays correct)
            if len(by_sfx) != len(cand):
                raise ValueError(
                    f"{op}: adopted file paths collide on their "
                    "3-component suffix — compact() the table first, "
                    "or use copy_on_write"
                )
            pos = (
                matches.select("_file", "_rowpos")
                .limit(max_dv_rows + 1)
                .collect()
            )
            if len(pos) <= max_dv_rows:
                dv: dict[str, list[int]] = {}
                for r in pos:
                    # the scan reports the 3-suffix; the vector must
                    # key on the STORED entry path or readers (which
                    # look vectors up by entry path) would silently
                    # resurrect the rows on adopted files
                    dv.setdefault(by_sfx[r["_file"]], []).append(
                        int(r["_rowpos"])
                    )
                return (
                    matches, {p: sorted(v) for p, v in dv.items()},
                    [], len(pos),
                )
            # too many positions for a vector — rewrite instead
        per_file = (
            matches.groupBy("_file")
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        hit_files = {r["_file"] for r in per_file}
        touched = [e for e in cand if _path_sfx(e["path"]) in hit_files]
        return matches, None, touched, sum(int(r["_n"]) for r in per_file)

    def _stage_survivors(
        self, touched: list[dict], snap: _Snapshot, predicate: str
    ) -> list[dict]:
        """Rewrite ``touched`` (live files of ``snap``) minus the rows
        ``predicate`` proves TRUE, recomputing ``_bucket`` from the keys
        (the recorded schema is user-facing; same hash → same bucket as
        the original file).
        The null-safe ``NOT ((pred) <=> TRUE)`` keeps condition-NULL
        rows (SQL semantics: unknown never deletes or replaces),
        matching the DV path, which only removes rows the predicate
        proved TRUE. No isEmpty() probe: staging an all-matched frame
        writes no part files (dynamic partitionBy) and returns [] — the
        probe cost one extra scan of the touched files per call."""
        m = snap.meta
        return self._stage(self._with_bucket(
            self._open_files(
                touched, snap.schema_json, snap.dvs,
                mapping=m.get("column_mapping") or {},
            ).filter(f"NOT (({predicate}) <=> TRUE)"),
            m,
        ), m)

    def replace_where(
        self,
        df: DataFrame,
        predicate: str,
        prune: dict[str, tuple] | None = None,
        max_retries: int = 5,
        eq: dict | None = None,
        isin: dict | None = None,
    ) -> int:
        """``INSERT OVERWRITE ... replaceWhere`` (Delta's
        predicate-scoped overwrite): atomically replace EXACTLY the
        rows matching ``predicate`` with ``df`` — the idempotent
        backfill pattern (re-derive one day/region/source by predicate
        without touching its neighbors; re-running the same replace is
        a no-op drift-wise because the slice is fully owned by the
        write).

        Incoming rows that do NOT satisfy the predicate are REFUSED
        (Delta's check: writing outside the declared slice would
        silently corrupt data the caller never claimed). The commit is
        one generic rewrite — remove = files containing matches (their
        non-matching survivor rows are rewritten), add = survivor
        rewrites + the staged incoming data — so CDF, time travel,
        vacuum and the streaming source need zero new cases (the
        stream refuses it like any rewrite unless ``ignorechanges``).
        An empty matched slice degrades to a plain atomic append of
        ``df``. Cost ∝ touched files + incoming bytes, never table
        size. ``prune`` / ``eq`` / ``isin`` skip provably-unmatchable
        files at the log level before the find-scan, exactly the
        ``delete_where`` convention."""
        df = self._managed_entry(df, "replace_where", self.meta)

        def stage_and_guard(meta: dict) -> tuple[list[dict], dict | None]:
            # incoming rows are INSERTS for identity/row-tracking
            # purposes — the replaced slice's old rows leave with their
            # ids (replaceWhere is delete+insert, Delta's position)
            filled, id_upd = self._fill_identity(
                self._with_bucket(df, meta), meta
            )
            staged = self._stage(filled, meta)
            if not staged:
                return staged, id_upd
            # The slice-ownership guard runs on the STAGED bytes, not
            # the incoming frame: a non-deterministic frame (rand(),
            # re-read of a mutating source) could pass a frame-side
            # check in one Spark job and still stage out-of-slice rows
            # in the write job — what commits is what must be checked.
            # Staged files carry PHYSICAL names; read them back under
            # the frame's logical schema so the predicate resolves.
            logical = StructType(
                [f for f in filled.schema.fields if f.name != "_bucket"]
            )
            staged_df = self._open_files(
                staged, logical.json(), None,
                mapping=meta.get("column_mapping") or {},
            )
            outside = (
                staged_df.filter(f"NOT (({predicate}) <=> TRUE)")
                .limit(1)
                .collect()
            )
            if outside:
                raise ValueError(
                    f"replace_where: staged row(s) do not satisfy the "
                    f"predicate ({predicate}) — e.g. {outside[0]}; the "
                    "write may only produce rows inside the replaced "
                    "slice"
                )
            return staged, id_upd

        staged_as, incoming, id_upd = None, None, None

        def attempt(snap: _Snapshot):
            nonlocal staged_as, incoming, id_upd
            base_v, m = snap.version, snap.meta
            # the attempt's own rules gate the write: an add_constraint
            # landing before its snapshot must apply (append's
            # convention)
            self._check_constraints(
                df, "replace_where batch", snap.constraints
            )
            layout = (m["n_buckets"], self._identity_counters(m))
            if staged_as != layout:
                # stage when missing, or restage when a rebucket or a
                # concurrent identity allocation won a race (append's
                # convention; old files become orphans)
                incoming, id_upd = stage_and_guard(m)
                staged_as = layout
            _, _, touched, _ = self._find_matches(
                "replace_where", predicate, (prune, eq, isin), snap
            )
            added = list(incoming)
            if touched:
                added = self._stage_survivors(
                    touched, snap, predicate
                ) + added
            schema_rec = self._schema_union_json(
                df, snap, False, "replace_where"
            )
            record = {
                "op": "replace",
                "add": added,
                "remove": [e["path"] for e in touched],
                "schema_json": schema_rec,
                "predicate": predicate,
            }
            if id_upd:
                record["meta_update"] = id_upd
            return record, base_v + 1

        return self._transact(attempt, max_retries)

    def update_where(
        self,
        predicate: str,
        assignments: dict[str, str],
        prune: dict[str, tuple] | None = None,
        max_retries: int = 5,
        mode: str = "copy_on_write",
        max_dv_rows: int = 100_000,
        eq: dict | None = None,
        isin: dict | None = None,
    ) -> tuple[int, int]:
        """Row-level ``UPDATE ... SET ... WHERE`` — the update twin of
        :meth:`delete_where`, with BOTH lakehouse strategies:

        - ``mode="copy_on_write"`` (default): find the files that
          contain matching rows (same two-phase, stats-pruned
          targeting), rewrite them with the SET expressions applied to
          matching rows only, commit atomically. Non-matching rows in
          touched files carry unchanged.
        - ``mode="merge_on_read"``: no touched file rewrites — ONE
          commit records a deletion vector over the old positions AND
          adds a file holding just the updated rows (Delta's
          DV-update shape: an update is a positional delete plus an
          insert of the post-image). Right for small targeted updates
          in huge files; falls back to copy-on-write past
          ``max_dv_rows`` (same bound-probe discipline as the delete).
          ``compact()`` later materializes the vectors.

        ``assignments`` maps column → Spark SQL expression. Key
        columns cannot be assigned — rekeying a row is a delete +
        insert, not an update (the MERGE path owns key identity).

        Returns ``(version, rows_updated)``; no commit when nothing
        matches. The change feed derives the exact full-row multiset
        delta in both modes (pre = the vectored/rewritten rows, post =
        the added rows), and the streaming source refuses the commit
        unless ignorechanges — for free from the commit shapes already
        handled.
        """
        m0 = self.meta
        bad = set(assignments) & set(m0["key_cols"])
        if bad:
            raise ValueError(
                f"cannot assign key column(s) {sorted(bad)}: rekeying is "
                "a delete + insert (use delete_where + append/merge)"
            )
        badg = set(assignments) & set(m0.get("generated_cols") or ())
        if badg:
            raise ValueError(
                f"cannot assign GENERATED column(s) {sorted(badg)} — "
                "they are always derived from their expression"
            )
        badi = set(assignments) & set(m0.get("identity_cols") or ())
        if badi:
            raise ValueError(
                f"cannot assign IDENTITY/row-tracking column(s) "
                f"{sorted(badi)} — they are allocated by the table and "
                "stable across updates"
            )
        # GENERATED ALWAYS AS: updating a base column a generation
        # expression references must RECOMPUTE the generated column on
        # the matched rows (a stale stored value would contradict the
        # declared expression — and its file stats would mis-prune)
        gen_recompute = {
            gname: gexpr
            for gname, gexpr in (m0.get("generated_cols") or {}).items()
            if any(_expr_mentions(gexpr, a) for a in assignments)
        }

        def with_regenerated(df: DataFrame) -> DataFrame:
            """Recompute generated columns from the POST-assignment
            values — a second projection, so the expressions see the
            updated base columns, restricted to the matched rows the
            `_matched` column marks."""
            for gname, gexpr in gen_recompute.items():
                if gname not in df.columns:
                    continue
                new = F.expr(gexpr).cast(df.schema[gname].dataType)
                df = df.withColumn(
                    gname,
                    F.when(F.col("_matched"), new).otherwise(F.col(gname)),
                )
            return df

        def attempt(snap: _Snapshot):
            base_v, _, schema_json, dvs, m, *_ = snap
            matches, dv, touched, n_upd = self._find_matches(
                "update_where", predicate, (prune, eq, isin), snap,
                max_dv_rows if mode == "merge_on_read" else None,
            )
            if not n_upd:
                return None, (base_v, 0)
            # merge_on_read: the vector removes the old positions and the
            # added file holds just the matched rows' post-image;
            # copy-on-write rewrites every row of the touched files
            src = (
                matches.drop("_file", "_rowpos") if dv
                else self._open_files(
                    touched, schema_json, dvs,
                    mapping=m.get("column_mapping") or {},
                )
            )
            match = F.expr(predicate)
            # the predicate and the SET expressions both evaluate on
            # the PRE-update row (one projection); the matched-row
            # flag rides along so the generated-column recompute (a
            # SECOND projection, over post-assignment values) touches
            # exactly the updated rows
            updated = src.select(
                *[
                    (
                        F.when(match, F.expr(assignments[c]))
                        .otherwise(F.col(c))
                        .cast(src.schema[c].dataType)
                        .alias(c)
                        if c in assignments
                        else F.col(c)
                    )
                    for c in src.columns
                ],
                match.alias("_matched"),
            )
            updated = with_regenerated(updated).drop("_matched")
            self._check_constraints(
                updated, "update_where post-image", snap.constraints
            )
            record = {
                "op": "update",
                "add": self._stage(self._with_bucket(updated, m), m),
                "remove": [e["path"] for e in touched],
                **({"dv": dv} if dv else {}),
                "schema_json": schema_json,
                "predicate": predicate,
                "assignments": assignments,
            }
            return record, (base_v + 1, n_upd)

        return self._transact(attempt, max_retries)

    # -- exactly-once streaming ------------------------------------

    def last_committed_batch(self, app_id: str) -> int:
        """Highest batch_id committed under `app_id` (-1 if none).
        Checkpoint-aware (checkpoints snapshot the per-app high-water
        marks): this runs once per micro-batch in the exactly-once
        sinks, so it must not walk the whole log."""
        return int(_replay_log(self.table_dir).txns.get(app_id, -1))

    def upsert_sink(self, app_id: str):
        """``foreachBatch`` function: idempotent transactional MERGE.

        Checkpoint recovery replays the last micro-batch after a crash
        (T6); the txn marker makes the replay a no-op, so the sink is
        exactly-once end-to-end even though delivery is at-least-once.
        """
        return self._txn_sink(
            app_id, lambda df, txn: self.merge_upsert(df, txn=txn)
        )

    def _txn_sink(self, app_id: str, write):
        """The ONE idempotent ``foreachBatch`` body behind every
        exactly-once sink: an empty batch has nothing to commit and
        returns; any other batch lands through ``write(batch_df,
        txn)``, whose one ``_transact`` commit decides idempotency — a
        batch at or below ``app_id``'s mark in the snapshot the commit
        claims its version against is a checkpoint-recovery replay and
        commits nothing, and of two handles applying the same batch
        concurrently one commits and the other's retry sees the mark."""

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            write(batch_df, {"app_id": app_id, "batch_id": int(batch_id)})

        return apply

    def append_sink(self, app_id: str):
        """``foreachBatch`` function: idempotent transactional APPEND —
        ``upsert_sink``'s keep-duplicates sibling for event-log tables.
        Replayed micro-batches are txn-marker no-ops."""
        return self._txn_sink(
            app_id, lambda df, txn: self.append(df, txn=txn)
        )

    def auto_ingest(
        self,
        source_dir: str,
        checkpoint_dir: str,
        file_format: str = "parquet",
        options: dict | None = None,
        app_id: str = "auto-ingest",
        mode: str = "append",
        available_now: bool = True,
    ):
        """Streaming landing-zone ingestion — the Auto Loader shape:
        Spark's FILE STREAM source discovers and tracks new files in
        its own checkpoint (so a million-file directory costs one
        listing per trigger, not a reread), and every micro-batch lands
        as ONE exactly-once transactional commit (txn markers make
        crash-replays no-ops). ``mode="append"`` keeps duplicates (the
        event-log shape); ``mode="merge"`` routes through
        ``merge_upsert`` (latest-wins per key). The table's CURRENT
        schema drives the source (file streams require an explicit
        schema) — evolve the table first, then the landing data.

        Returns the started ``StreamingQuery``; with
        ``available_now=True`` (default) it drains the current backlog
        and stops — the incremental-batch ingestion pattern (run it
        from cron; each run picks up exactly the new files). Use
        ``copy_into`` instead when you want the LOG (not a stream
        checkpoint) to own the loaded-file set."""
        if mode not in ("append", "merge"):
            raise ValueError("auto_ingest: mode must be append|merge")
        _, _, schema_json, _, meta, *_ = _replay_log(
            self.table_dir, self.latest_version()
        )
        if schema_json is None:
            raise ValueError(
                "auto_ingest: the table has no recorded schema yet — "
                "append/copy_into one batch first (file streams need "
                "an explicit schema)"
            )
        # landing files are USER data: GENERATED-ALWAYS identity and
        # generated columns are computed/allocated at write, never read
        # from the source (a declared-but-absent column would NULL-fill
        # and then fail the generation contract); BY DEFAULT identity
        # columns STAY — explicit values in landing files are honored,
        # exactly as copy_into honors them
        skip = {
            n
            for n, s in self._identity_specs(meta).items()
            if s.get("always", True)
        } | set(meta.get("generated_cols") or ())
        reader = self.spark.readStream.format(file_format).schema(
            StructType(
                [
                    f
                    for f in StructType.fromJson(
                        json.loads(schema_json)
                    ).fields
                    if f.name not in skip
                ]
            )
        )
        if options:
            reader = reader.options(**options)
        src = reader.load(source_dir)
        fn = (
            self.append_sink(app_id)
            if mode == "append"
            else self.upsert_sink(app_id)
        )
        writer = (
            src.writeStream.foreachBatch(fn)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def cdc_sink(
        self, app_id: str, op_col: str = "op", delete_label: str = "D"
    ):
        """``foreachBatch`` function: idempotent transactional CDC
        apply — ``upsert_sink``'s delete-aware sibling. A live change
        stream (inserts/updates/DELETES, e.g. a CDC feed or the
        delete-propagation stream) maintains the keyed table
        exactly-once: checkpoint-recovery replays are no-ops via the
        txn marker, and each micro-batch lands as ONE atomic
        :meth:`apply_cdc` commit with full late-CDC ordering."""
        return self._txn_sink(app_id, lambda df, txn: self.apply_cdc(
            df, op_col=op_col, delete_label=delete_label, txn=txn
        ))

    def merge_into_sink(self, app_id: str, **merge_kwargs):
        """``foreachBatch`` function: idempotent transactional
        CONDITIONAL MERGE — each micro-batch lands as one atomic
        :meth:`merge_into` commit with the given clause configuration
        (``when_matched`` / ``update_set`` / conditions forwarded
        verbatim); checkpoint-recovery replays are no-ops via the txn
        marker, the ``upsert_sink`` exactly-once contract."""
        return self._txn_sink(
            app_id,
            lambda df, txn: self.merge_into(df, txn=txn, **merge_kwargs),
        )

    # -- change data feed --------------------------------------------

    def table_changes(self, version: int) -> DataFrame:
        """Change-data-feed for one commit (the Delta CDF contract):
        derive row-level changes from the commit's pre-image (files it
        removed) and post-image (files it added); ``_change_type`` is
        ``insert`` / ``delete`` / ``update_preimage`` /
        ``update_postimage`` — updates emit BOTH rows so downstream
        incremental aggregation can subtract the old contribution and
        add the new one (see ``operators/ivm.py``).

        No extra write-path cost: the feed is derived lazily from the
        immutable files the log already references — the same trick
        Delta uses when no explicit CDF files exist. Downstream
        incremental consumers (a materialized aggregate, a replica)
        apply commits in order without rescanning the table.

        Scale shape: one full-outer join keyed on the business key,
        bounded by the commit's touched buckets — never the table.
        ``append`` commits short-circuit to pure inserts (no pre-image
        read at all); layout-only ``compact`` commits return an empty
        feed by definition.

        On a ``cdf=True`` table, rewrite commits carry MATERIALIZED
        change files (written at commit time by the same derivation
        below) — those read back directly, no diff re-run.

        NAMING CONTRACT: the feed is served under the table's LATEST
        logical column names, whatever names were in force when the
        commit landed — the same convention as the ``format("txlog")``
        change-feed DataSource (whose declared schema is always the
        latest) and as Delta, so one commit range reads identically
        through both APIs across a rename. A column dropped after the
        commit keeps its commit-time name (it has no latest name).
        """
        rec = _read_record(self.table_dir, version)
        latest = _replay_log(self.table_dir, self.latest_version())
        latest_map = latest.meta.get("column_mapping") or {}
        if rec.get("cdf_files"):
            df = self.spark.read.parquet(
                *[os.path.join(self.table_dir, p) for p in rec["cdf_files"]]
            )
            # change files carry PHYSICAL names — resolve to the
            # LATEST logical names (see naming contract above)
            return _rename_columns(
                df, [(ph, lg) for lg, ph in latest_map.items()]
            )
        df = self._changes_for(
            version, rec, latest, _replay_log(self.table_dir, version - 1)
        )
        # the derived feed carries the commit-time logical names —
        # translate commit-logical → physical → latest-logical. The
        # as-of meta replay is O(version); skip it when the latest
        # mapping is empty: then physical ≡ latest logical for every
        # live column and the translation is a no-op. Known edge,
        # accepted: a non-CDF table whose rename was later reverted
        # by a restore (latest mapping emptied) serves THIS feed
        # under the commit-time name — the column is value-degenerate
        # there anyway (the commit schema NULL-fills it against the
        # physical files), so no consumer can rely on it either way
        if not latest_map:
            return df
        commit_map = self.meta_at(version).get("column_mapping") or {}
        inv_latest = {ph: lg for lg, ph in latest_map.items()}
        pairs = []
        for c in df.columns:
            if c == "_change_type":
                continue
            ph = commit_map.get(c, c)
            tgt = inv_latest.get(ph, ph)
            if tgt != c:
                pairs.append((c, tgt))
        return _rename_columns(df, pairs)

    def _changes_for(
        self, version: int, rec: dict, snap: _Snapshot, pre: _Snapshot
    ) -> DataFrame:
        """Derive the commit's change rows from its record. ``snap``
        supplies the table meta (key/order columns, column mapping) and
        the schema of last resort; ``pre`` is the snapshot at
        ``version - 1`` (the pre-image files and vectors). Callable
        BEFORE the commit lands (files are staged first), which is how
        ``cdf=True`` materializes the feed at write time with zero
        duplicated diff logic — ``version`` is then the version being
        attempted and the attempt's snapshot is both ``snap`` and
        ``pre``."""
        m = snap.meta
        key_cols = m["key_cols"]
        mapping = m.get("column_mapping") or {}
        # change types follow Delta's CDF contract: updates emit BOTH
        # an update_preimage and an update_postimage row — downstream
        # incremental aggregation needs the preimage to subtract.

        def read_files(
            paths: list[str], dvs: dict[str, set] | None = None
        ) -> DataFrame | None:
            if not paths:
                return None
            # the commit's recorded (widened) schema NULL-fills evolved
            # columns in pre-image files, so update_preimage rows carry
            # NULL where the old row had no value — the CDF contract
            return self._open_files(
                paths, rec.get("schema_json"), dvs, mapping=mapping
            ).drop("_bucket")

        if rec.get("op") == "clone" and rec.get("add"):
            # a clone's feed is its VISIBLE initial state: the
            # referenced files with the cloned deletion vectors applied
            # (unmasked reads would resurrect hidden rows as inserts)
            dv_full = {
                p: set(v) for p, v in (rec.get("dv_full") or {}).items()
            }
            return (
                self._open_files(
                    list(rec["add"]),
                    rec.get("schema_json"),
                    dv_full,
                    mapping=mapping,
                )
                .drop("_bucket")
                .withColumn("_change_type", F.lit("insert"))
            )

        if "dv" in rec:
            # merge-on-read delete: the commit's DV DELTA rows ARE the
            # change feed — read them by physical position (no diffing)
            dv_live, pre_dvs = pre.live, pre.dvs
            dv_rows = [
                # DV commits key on the STORED entry path (absolute
                # for adopted/cloned files); the scan's `_file` is the
                # 3-component suffix — normalize or the join silently
                # yields an empty change feed on adopted files
                (_path_sfx(p), int(i))
                for p, v in rec["dv"].items()
                for i in v
            ]
            src = self._open_files(
                # resolve paths to the prior snapshot's ENTRIES so
                # hive-adopted (pfill) files read with their partition
                # values filled
                [dv_live.get(p, p) for p in sorted(rec["dv"])],
                rec.get("schema_json"), pre_dvs,
                keep_meta=True, mapping=mapping,
            )
            dvdf = self.spark.createDataFrame(
                dv_rows, "_file string, _rowpos long"
            )
            pre = src.join(
                F.broadcast(dvdf), ["_file", "_rowpos"]
            ).drop("_file", "_rowpos", "_bucket")
            if rec.get("add"):
                # merge-on-read UPDATE: the vectored rows are the
                # pre-images, the added file holds the post-images —
                # emit the exact full-row multiset delta (the same
                # convention as copy-on-write update/delete rewrites)
                post = read_files(list(rec["add"]))
                return _multiset_delta(pre, post)
            return pre.withColumn("_change_type", F.lit("delete"))

        if rec["op"] == "restore":
            # a restore can change data through files AND vectors at
            # once (a dv-only restore touches no file at all); the
            # robust feed is the multiset delta of the two DV-aware
            # SNAPSHOTS — table-bounded, acceptable for an admin op.
            # At WRITE-time materialization the commit hasn't landed,
            # and replay silently stops at the last committed version
            # (which would yield an empty delta) — the post-state IS
            # the restored snapshot, so read that instead.
            post_v = version
            if not os.path.exists(_version_path(self.table_dir, version)):
                post_v = rec["restored_version"]
            return _multiset_delta(
                self.read(version=version - 1), self.read(version=post_v)
            )

        # pre-images exclude rows already deleted by vectors BEFORE
        # this commit — they left the table in an earlier version
        prev_live, pre_dvs = pre.live, pre.dvs
        post = read_files(list(rec["add"]))
        if rec["op"] == "fsck":
            # the removed files are GONE from storage — their rows are
            # unrecoverable, so the repair's feed is empty by contract
            # (emitting deletes would require reading the lost data)
            schema_json = rec.get("schema_json") or snap.schema_json
            empty = self.spark.createDataFrame(
                [], StructType.fromJson(json.loads(schema_json))
            )
            return empty.withColumn(
                "_change_type", F.lit("delete")
            ).limit(0)
        if post is None and rec["op"] not in ("create", "compact") and rec["remove"]:
            # pure-removal rewrite: a whole-file DELETE, or a RESTORE
            # rolling back appends — every pre-image row is a delete
            # (an empty post here previously read as "no changes",
            # silently dropping the feed's retractions)
            pre_only = read_files(
                [prev_live.get(p, p) for p in rec["remove"]], pre_dvs
            )
            return pre_only.withColumn("_change_type", F.lit("delete"))
        if rec["op"] in ("create", "compact") or post is None:
            # create commits carry no schema: borrow the nearest one
            schema_json = (
                rec.get("schema_json")
                or pre.schema_json
                or snap.schema_json
            )
            if schema_json is None:
                raise ValueError(f"version {version} has no readable schema")
            empty = self.spark.createDataFrame(
                [], StructType.fromJson(json.loads(schema_json))
            )
            return empty.withColumn("_change_type", F.lit("insert")).limit(0)
        if rec["op"] == "append" or not rec["remove"]:
            return post.withColumn("_change_type", F.lit("insert"))

        pre = read_files(
            [prev_live.get(p, p) for p in rec["remove"]], pre_dvs
        )
        if rec["op"] != "merge":
            # delete / update rewrites: the key-based pairing below
            # assumes the post-image holds ONE row per key (true only
            # for merge commits); append-allowed duplicate keys would
            # multiply through the join. These ops need no update
            # pairing — emit the exact FULL-ROW multiset delta instead.
            return _multiset_delta(pre, post)
        val_cols = [c for c in post.columns if c not in key_cols]
        # A merge commit's POST side holds exactly one row per key (the
        # merge's latest-wins output), but the PRE side may hold
        # duplicates of a key if earlier `append` commits landed copies
        # in the touched buckets. Joining raw pre rows would then
        # multiply against the single post row and double-count
        # contributions downstream. Contract: the HIGHEST-order pre row
        # per key pairs with the post row (carried if identical, update
        # pair if not); every other duplicate pre row is a plain
        # delete — the multiset delta of the two snapshots, exactly.
        from pyspark.sql import Window

        wk = Window.partitionBy(*key_cols).orderBy(
            F.col(m["order_col"]).desc()
        )
        pre_ranked = pre.withColumn("_prn", F.row_number().over(wk))
        extra_deletes = (
            pre_ranked.filter(F.col("_prn") > 1)
            .drop("_prn")
            .withColumn("_change_type", F.lit("delete"))
        )
        pre = pre_ranked.filter(F.col("_prn") == 1).drop("_prn")
        joined = pre.alias("pre").join(
            post.alias("post"),
            [F.col(f"pre.{k}").eqNullSafe(F.col(f"post.{k}")) for k in key_cols],
            "full_outer",
        )
        pre_missing = F.col(f"pre.{key_cols[0]}").isNull()
        post_missing = F.col(f"post.{key_cols[0]}").isNull()
        changed = (
            F.lit(False)
            if not val_cols
            else ~F.struct(*[F.col(f"pre.{c}") for c in val_cols]).eqNullSafe(
                F.struct(*[F.col(f"post.{c}") for c in val_cols])
            )
        )
        pre_struct = F.struct(*[F.col(f"pre.{c}").alias(c) for c in post.columns])
        post_struct = F.struct(*[F.col(f"post.{c}").alias(c) for c in post.columns])

        def tagged(row: F.Column, t: str) -> F.Column:
            return F.struct(row.alias("r"), F.lit(t).alias("t"))

        arr = (
            F.when(pre_missing, F.array(tagged(post_struct, "insert")))
            .when(post_missing, F.array(tagged(pre_struct, "delete")))
            .when(
                changed,
                F.array(
                    tagged(pre_struct, "update_preimage"),
                    tagged(post_struct, "update_postimage"),
                ),
            )
            .otherwise(F.array())  # carried rows drop out of the feed
        )
        exploded = joined.select(F.explode(arr).alias("e"))
        paired = exploded.select("e.r.*", F.col("e.t").alias("_change_type"))
        return paired.unionByName(extra_deletes.select(*paired.columns))

    # -- maintenance -------------------------------------------------

    def vacuum(
        self,
        retain_versions: int = 1,
        grace_seconds: float = 3600.0,
        dry_run: bool = False,
        retain_hours: float | None = None,
    ) -> list[str]:
        """Delete data files unreferenced by the newest `retain_versions`
        snapshots, plus orphaned staged directories from crashed or
        losing writers. Returns deleted paths (table-relative).
        ``dry_run=True`` (Delta's VACUUM ... DRY RUN) returns the same
        list without deleting anything — the pre-flight check before
        an irreversible reclaim (a vacuumed file breaks time travel
        and clone references past it).

        ``retain_hours`` is Delta's time-based retention (``VACUUM ...
        RETAIN n HOURS``, default 168 there): every snapshot whose
        commit timestamp falls inside the window stays time-travelable
        — the retained set becomes those versions (plus the newest one
        even if it is older, so the LIVE state is always safe),
        whichever of the two retention forms keeps MORE. In-commit
        timestamps (the ``ts`` every record carries) drive the cut,
        so cross-writer clock skew can only blur the boundary commit,
        never reclaim a mid-window one.

        ``grace_seconds`` is the Delta-style retention window applied to
        NEVER-COMMITTED staged files: a data file no log version has
        ever referenced is either a crashed writer's orphan or a
        CONCURRENT writer's not-yet-committed stage — the two are
        indistinguishable by path, so a file younger than the grace
        period is skipped (reclaiming an in-flight stage would leave
        that writer's winning commit pointing at deleted data). Crashed
        orphans age past the window and are reclaimed on the next
        vacuum. Files some PAST commit added (superseded by later
        rewrites) cannot belong to an in-flight writer, so they are
        reclaimed immediately once no retained snapshot references
        them."""
        import time

        versions = _list_versions(self.table_dir)
        keep_versions = versions[-retain_versions:]
        cut = None if retain_hours is None else (
            time.time() - retain_hours * 3600.0
        )
        # ONE read per commit record: its stamp (time-based retention),
        # its adds (every path ANY commit ever added —
        # committed-then-removed files are safe to reclaim with no age
        # check) and its change-feed files
        in_window: list[int] = []
        ever_committed: set[str] = set()
        cdf_of: dict[int, list[str]] = {}
        for v in versions:
            rec = _read_record(self.table_dir, v)
            if cut is not None and rec.get("ts", 0) >= cut:
                in_window.append(v)
            ever_committed.update(e["path"] for e in rec.get("add", []))
            if rec.get("cdf_files"):
                cdf_of[v] = rec["cdf_files"]
        # union of the two forms — time-based retention can only
        # WIDEN the kept set, never reclaim past retain_versions
        keep_versions = sorted(set(keep_versions) | set(in_window))
        referenced: set[str] = set()
        for v in keep_versions:
            _, live, _ = self._snapshot(v)
            referenced.update(e["path"] for e in live)
        now = time.time()
        deleted: list[str] = []
        for staged in glob.glob(os.path.join(self.table_dir, "_staged-*")):
            # recursive: partitioned tables nest `_hp_<col>=value`
            # directories above the `_pb=N` level
            for p in glob.glob(
                os.path.join(staged, "**", "*.parquet"), recursive=True
            ):
                rel = os.path.relpath(p, self.table_dir)
                if rel in referenced:
                    continue
                if (
                    rel not in ever_committed
                    and now - os.path.getmtime(p) < grace_seconds
                ):
                    continue  # possibly an in-flight writer's stage
                if not dry_run:
                    os.unlink(p)
                deleted.append(rel)
            # prune now-empty staged trees (losing writers leave whole
            # dirs) — but only once past the grace window: an in-flight
            # writer's tree is empty-looking between mkdir and write
            if not dry_run and not glob.glob(
                os.path.join(staged, "**", "*.parquet"), recursive=True
            ) and (
                now - os.path.getmtime(staged) >= grace_seconds
                or any(
                    rel.startswith(os.path.basename(staged) + os.sep)
                    for rel in ever_committed
                )
            ):
                shutil.rmtree(staged, ignore_errors=True)
        # change-feed files: a commit OLDER than the oldest retained
        # snapshot is no longer time-travelable (its data files were
        # just reclaimed), so its materialized change files are dead
        # weight too — without this, a cdf=True table leaks one _cdf-*
        # tree per rewrite forever. Commits >= the oldest retained
        # version keep their feeds (batch/stream CDF reads over the
        # retained range must still serve). Never-committed _cdf-*
        # trees (crashed writer between stage and commit) follow the
        # same grace-window rule as staged orphans.
        oldest_kept = keep_versions[0] if keep_versions else 0
        cdf_live: set[str] = set()
        cdf_dead: set[str] = set()
        for v, rels in cdf_of.items():
            for rel in rels:
                (cdf_live if v >= oldest_kept else cdf_dead).add(rel)
        for rel in sorted(cdf_dead - cdf_live):
            p = os.path.join(self.table_dir, rel)
            if os.path.exists(p):
                if not dry_run:
                    os.unlink(p)
                deleted.append(rel)
        cdf_committed_roots = {
            rel.split(os.sep, 1)[0] for rel in (cdf_live | cdf_dead)
        }
        for cdir in glob.glob(os.path.join(self.table_dir, "_cdf-*")):
            base = os.path.basename(cdir)
            if base in cdf_committed_roots:
                # committed tree: prune it only once fully emptied
                if not dry_run and not glob.glob(
                    os.path.join(cdir, "*.parquet")
                ) and (
                    base not in {
                        r.split(os.sep, 1)[0] for r in cdf_live
                    }
                ):
                    shutil.rmtree(cdir, ignore_errors=True)
                continue
            if now - os.path.getmtime(cdir) >= grace_seconds:
                # never committed and past the in-flight grace window
                for p in glob.glob(os.path.join(cdir, "*.parquet")):
                    deleted.append(os.path.relpath(p, self.table_dir))
                if not dry_run:
                    shutil.rmtree(cdir, ignore_errors=True)
        # tmp commit records: only reclaim STALE ones — an in-flight
        # committer holds its tmp for milliseconds between write and
        # link; deleting it from under the writer would fail that
        # commit spuriously. One hour is orders of magnitude past any
        # live commit, and crashed writers' tmps are older still.
        for tmp in glob.glob(os.path.join(self.table_dir, _LOG_DIR, ".tmp-*")):
            if not dry_run and now - os.path.getmtime(tmp) > 3600:
                os.unlink(tmp)
        return sorted(deleted)


# Pure-Python twin of Spark's ``xxhash64(...)`` expression (XXH64,
# xxhash.com spec — public domain algorithm) so a WRITE path running
# outside the JVM (the DataSource writer's executor tasks, which see
# Arrow batches, not Spark columns) can assign each row the SAME bucket
# ``_with_bucket`` computes with ``F.pmod(F.xxhash64(keys), n)``.
# Parity is semantic, not cosmetic: add-entries label files with one
# bucket, and merge_upsert trusts the label to find the files a key
# could live in — a mislabeled row would silently escape later merges.
# Parity with the JVM is pinned in tests over every supported key type.
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _xxh64(data: bytes, seed: int) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _U64
        v2 = (seed + _XXP2) & _U64
        v3 = seed & _U64
        v4 = (seed - _XXP1) & _U64
        while i + 32 <= n:
            for _ in range(1):
                k1 = int.from_bytes(data[i : i + 8], "little")
                k2 = int.from_bytes(data[i + 8 : i + 16], "little")
                k3 = int.from_bytes(data[i + 16 : i + 24], "little")
                k4 = int.from_bytes(data[i + 24 : i + 32], "little")
            v1 = (_rotl64((v1 + k1 * _XXP2) & _U64, 31) * _XXP1) & _U64
            v2 = (_rotl64((v2 + k2 * _XXP2) & _U64, 31) * _XXP1) & _U64
            v3 = (_rotl64((v3 + k3 * _XXP2) & _U64, 31) * _XXP1) & _U64
            v4 = (_rotl64((v4 + k4 * _XXP2) & _U64, 31) * _XXP1) & _U64
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
        ) & _U64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl64((v * _XXP2) & _U64, 31) * _XXP1) & _U64
            h = ((h * _XXP1) + _XXP4) & _U64
    else:
        h = (seed + _XXP5) & _U64
    h = (h + n) & _U64
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl64((k * _XXP2) & _U64, 31) * _XXP1) & _U64
        h = ((_rotl64(h, 27) * _XXP1) + _XXP4) & _U64
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i : i + 4], "little")
        h ^= (k * _XXP1) & _U64
        h = ((_rotl64(h, 23) * _XXP2) + _XXP3) & _U64
        i += 4
    while i < n:
        h ^= (data[i] * _XXP5) & _U64
        h = (_rotl64(h, 11) * _XXP1) & _U64
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _U64
    h ^= h >> 29
    h = (h * _XXP3) & _U64
    h ^= h >> 32
    return h


def spark_xxhash64(values, seed: int = 42, types=None) -> int:
    """``F.xxhash64(c1, c2, ...)`` for one row of Python values, SIGNED
    64-bit like the Spark column. Spark's per-type encodings: ints ≤ 32
    bits hash as the 4-byte LE word (the ``hashInt`` path —
    IntegerType/ShortType/ByteType), longs (and timestamps) as the
    8-byte LE word, strings as UTF-8 bytes, booleans as int 0/1, dates
    as their epoch-day int, and NULL columns are SKIPPED (the running
    seed carries through) — each column's hash seeds the next.

    A bare Python int carries no width, so by default it is hashed as
    LONG (8-byte). When the caller knows the DECLARED column types —
    the DataSource writer has the Spark schema — pass ``types``, a
    sequence aligned with ``values`` whose entries are ``"i4"``
    (Integer/Short/Byte: 4-byte path), ``"i8"`` (Long/Timestamp), or
    ``None`` (infer from the Python type as before). Without the
    marker, an int-typed key column would hash down the wrong path and
    its rows would be mislabeled into the wrong bucket."""
    h = seed
    for idx, v in enumerate(values):
        if v is None:
            continue
        t = types[idx] if types is not None else None
        if isinstance(v, bool):
            data = struct.pack("<i", int(v))
        elif isinstance(v, int):
            data = struct.pack("<i" if t == "i4" else "<q", v)
        elif isinstance(v, str):
            data = v.encode("utf-8")
        elif isinstance(v, bytes):
            data = v
        elif isinstance(v, datetime.datetime):
            epoch = datetime.datetime(
                1970, 1, 1, tzinfo=datetime.timezone.utc
            )
            vv = v if v.tzinfo else v.replace(tzinfo=datetime.timezone.utc)
            # exact integer micros — total_seconds() is a float and
            # drops sub-ms precision once the magnitude passes ~2^53/1e6
            d = vv - epoch
            micros = (
                d.days * 86_400 + d.seconds
            ) * 1_000_000 + d.microseconds
            data = struct.pack("<q", micros)
        elif isinstance(v, datetime.date):
            data = struct.pack(
                "<i", (v - datetime.date(1970, 1, 1)).days
            )
        else:
            raise TypeError(
                f"spark_xxhash64: unsupported key type {type(v).__name__} "
                "(supported: int/long, string, binary, bool, date, "
                "timestamp)"
            )
        h = _xxh64(data, h)
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_of(key_values, n_buckets: int, types=None) -> int:
    """``pmod(xxhash64(keys), n_buckets)`` for one row — the table's
    bucket function, computable anywhere Python runs. Python's ``%``
    on a positive modulus IS pmod (non-negative result). ``types``
    forwards the declared-width markers (see :func:`spark_xxhash64`)."""
    return spark_xxhash64(key_values, types=types) % n_buckets


def spark_type_marker(dt) -> str | None:
    """Map a Spark DataType to the :func:`spark_xxhash64` width marker
    for its integer-family encoding: Integer/Short/Byte → ``"i4"``
    (Spark's ``hashInt``), Long → ``"i8"``; everything else infers
    from the Python value (strings/bools/dates/timestamps are
    unambiguous)."""
    name = dt.simpleString()
    if name in ("int", "smallint", "tinyint"):
        return "i4"
    if name == "bigint":
        return "i8"
    return None


def _xxh64_word_vec(k, nbytes: int, h):
    """One xxh64 round over a single ≤8-byte little-endian word per
    row, VECTORIZED (numpy uint64, wraparound arithmetic): ``k`` is the
    zero-extended word per row, ``h`` the per-row running seed (each
    column's hash seeds the next, so seeds differ row-to-row). Mirrors
    :func:`_xxh64`'s short-input path for n=4 / n=8 bit-for-bit —
    parity with the scalar twin (and hence ``F.xxhash64``) is pinned in
    tests."""
    import numpy as np

    p1, p2, p3 = np.uint64(_XXP1), np.uint64(_XXP2), np.uint64(_XXP3)
    p4, p5 = np.uint64(_XXP4), np.uint64(_XXP5)

    def rotl(x, r):
        return (x << np.uint64(r)) | (x >> np.uint64(64 - r))

    h = (h + p5 + np.uint64(nbytes)).astype(np.uint64)
    if nbytes == 8:
        h = h ^ (rotl(k * p2, 31) * p1)
        h = rotl(h, 27) * p1 + p4
    else:  # 4-byte word: Spark's hashInt encoding
        h = h ^ ((k & np.uint64(0xFFFFFFFF)) * p1)
        h = rotl(h, 23) * p2 + p3
    h = h ^ (h >> np.uint64(33))
    h = h * p2
    h = h ^ (h >> np.uint64(29))
    h = h * p3
    h = h ^ (h >> np.uint64(32))
    return h


def bucket_batch(table, key_cols, n_buckets: int):
    """Vectorized :func:`bucket_of` over a pyarrow Table — the
    DataSource writer's per-batch bucket assignment without handing
    rows to the Python interpreter (VERDICT r05 wrong-#3). One numpy
    pass per key column for the fixed-width types, dispatched on the
    ARROW type (which mirrors the declared Spark schema, so
    Integer/Short/Byte columns take Spark's 4-byte hashInt path —
    the ADVICE r05 mislabeled-bucket fix): int8/16/32 and date32 →
    4-byte word; int64 and timestamp (normalized to micros) → 8-byte;
    bool → 4-byte 0/1. Variable-width types (string/binary) fall back
    to the scalar twin per row. NULLs carry the running seed through
    unchanged, matching ``F.xxhash64``. Returns an int64 numpy array of
    pmod bucket ids."""
    import numpy as np
    import pyarrow as pa

    n = table.num_rows
    h = np.full(n, 42, dtype=np.uint64)
    for c in key_cols:
        col = table.column(c)
        arr = (
            col.combine_chunks()
            if isinstance(col, pa.ChunkedArray)
            else col
        )
        t = arr.type
        valid = ~np.asarray(arr.is_null())
        if pa.types.is_boolean(t):
            k = (
                np.asarray(arr.fill_null(False))
                .astype(np.uint32)
                .astype(np.uint64)
            )
            h2 = _xxh64_word_vec(k, 4, h)
        elif pa.types.is_integer(t) and t.bit_width <= 32:
            k = (
                arr.fill_null(0)
                .cast(pa.int32())
                .to_numpy(zero_copy_only=False)
                .astype(np.uint32)  # unsigned view of the 4 LE bytes
                .astype(np.uint64)
            )
            h2 = _xxh64_word_vec(k, 4, h)
        elif pa.types.is_date32(t):
            k = (
                arr.fill_null(0)
                .cast(pa.int32())
                .to_numpy(zero_copy_only=False)
                .astype(np.uint32)
                .astype(np.uint64)
            )
            h2 = _xxh64_word_vec(k, 4, h)
        elif pa.types.is_integer(t):  # int64
            k = (
                arr.fill_null(0)
                .cast(pa.int64())
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
                .view(np.uint64)
            )
            h2 = _xxh64_word_vec(k, 8, h)
        elif pa.types.is_timestamp(t):
            vals = (
                arr.cast(pa.timestamp("us", tz=t.tz))
                .fill_null(0)
                .cast(pa.int64())
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
                .view(np.uint64)
            )
            h2 = _xxh64_word_vec(vals, 8, h)
        else:
            # variable-width / exotic: scalar twin per row (strings
            # hash as UTF-8 bytes; unsupported types raise the same
            # TypeError the scalar path documents)
            h2 = h.copy()
            for i, v in enumerate(arr.to_pylist()):
                if v is None:
                    continue
                if isinstance(v, str):
                    data = v.encode("utf-8")
                elif isinstance(v, bytes):
                    data = v
                else:
                    raise TypeError(
                        f"bucket_batch: unsupported key type "
                        f"{type(v).__name__} in column {c!r}"
                    )
                h2[i] = _xxh64(data, int(h2[i]))
            h2 = h2.astype(np.uint64)
        h = np.where(valid, h2, h)
    signed = h.view(np.int64)
    return (signed % np.int64(n_buckets)).astype(np.int64)
