"""File skipping for the txlog table: the per-file footer stats and
bloom bitmaps a commit records, the exact partition values, and the ONE
keep-or-skip decision every reader makes from them.

``file_predicate(prune, eq, isin, mapping)`` is that decision — "may this
add-entry hold rows matching the ranges ``prune``, the equalities ``eq``
and the IN-lists ``isin``?" — and ``TxTable.read``, ``prune_report``,
the merge and DML find phases and the ``format("txlog")`` DataSource
reader all call it rather than composing the tests themselves. An
equality is a one-value IN, applied as its own conjunct. Every test is
conservative: a file is skipped only when its recorded stats, bloom or
partition value PROVE no row can match; missing stats keep the file,
and callers re-apply the predicate row-level, so skipping never changes
a result.
"""

from __future__ import annotations

import datetime
import math
from collections.abc import Callable, Iterable, Mapping

# Data-skipping stats: cap the per-file stat payload like Delta's
# dataSkippingNumIndexedCols — the log stays O(files · STATS_MAX_COLS)
# however wide the table is.
STATS_MAX_COLS = 32
_STATS_MAX_STR = 256  # longer string stats are dropped, never truncated


def _stat_scalar(v):
    """Parquet-footer stat → JSON-safe comparable scalar, or None.

    Timestamps become epoch-microsecond ints (ISO strings would compare
    wrong across fractional-second formats); non-finite floats and long
    strings are dropped rather than stored wrong — a missing stat only
    costs skipping opportunity, a WRONG stat costs correctness. String
    maxima are kept only un-truncated for the same reason (a truncated
    max underestimates the file's range and would wrongly skip it).
    """
    if isinstance(v, bool) or v is None:
        return None  # booleans carry no useful range; never skip on them
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        epoch = datetime.datetime(1970, 1, 1)
        return int((v - epoch) / datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return int((v - datetime.date(1970, 1, 1)).days)
    if isinstance(v, bytes):
        try:
            v = v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return v if len(v) <= _STATS_MAX_STR else None
    return None


def _file_stats(path: str) -> dict:
    """Per-file column stats from the parquet FOOTER — the file was just
    written, its footer already holds row-group min/max/null-count, so
    stats collection costs one metadata read, not a data scan (the same
    place Iceberg/Delta get theirs). Returns ``{"rows": n, "cols":
    {col: [min, max, null_count]}}``; any column or file that can't be
    read safely simply has no stats (pruning then keeps the file)."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
    except Exception:
        return {}
    per_col: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name or name.startswith("_"):
                continue  # nested leaves / internal layout columns
            st = col.statistics
            if st is None:
                per_col[name] = [None, None, None]
                continue
            # an all-NULL row group has no min/max but may still carry
            # an exact null count — keep it (metadata_aggregate needs
            # it to tell "all NULL" apart from "stat dropped")
            if st.has_min_max:
                mn, mx = _stat_scalar(st.min), _stat_scalar(st.max)
            else:
                mn = mx = None
            nulls = st.null_count if st.has_null_count else None
            cur = per_col.get(name)
            if cur is None:
                per_col[name] = [mn, mx, nulls]
            else:
                # a row group without min/max poisons the FILE range
                # only when it isn't provably all-NULL; since we can't
                # see its row count here, stay conservative: unknown
                cur[0] = None if (cur[0] is None or mn is None) else min(cur[0], mn)
                cur[1] = None if (cur[1] is None or mx is None) else max(cur[1], mx)
                cur[2] = (
                    None
                    if (cur[2] is None or nulls is None)
                    else cur[2] + nulls
                )
    cols = {
        k: v
        for k, v in sorted(per_col.items())[:STATS_MAX_COLS]
        if not (v[0] is None and v[1] is None and v[2] is None)
    }
    return {"rows": md.num_rows, "cols": cols}


# Per-file bloom indexes for point-lookup skipping (the shape of
# Delta's bloomFilterIndex / Parquet's split-block bloom filters —
# neither readable from Python, so the bitmap lives in the commit log
# next to the min/max stats it complements). Min/max prunes RANGES;
# after enough churn every file's key range overlaps every other's and
# a point lookup degenerates to a full scan — the bloom answers
# "definitely not in this file" for equality predicates regardless of
# range overlap. Sizing: ~12 bits/distinct key, k≈m/n·ln2 probes →
# ~0.3 % false-positive rate, capped at 4 KiB/bitmap so the log entry
# stays O(1) however large the file (a saturated bloom only loses
# skipping, never correctness).
_BLOOM_MIN_BITS = 1 << 10
_BLOOM_MAX_BITS = 1 << 15
_BLOOM_BITS_PER_KEY = 12
_BLOOM_MAX_K = 8


def _bloom_key_bytes(v) -> bytes | None:
    """Canonical hash input for a lookup value — shared by build (in
    the Arrow-batched stage job) and probe (driver-side skip test), so
    the two sides agree by construction. Only exact-equality-meaningful
    types participate: ints, strings, bytes, date/datetime (as the same
    epoch ints the min/max stats use). Floats/bools/None return None —
    no bloom bit, the probe then keeps the file."""
    if v is None or isinstance(v, bool):
        return None
    if isinstance(v, int):
        return b"i:%d" % v
    if isinstance(v, str):
        return b"s:" + v.encode("utf-8")
    if isinstance(v, bytes):
        return b"b:" + v
    if isinstance(v, (datetime.datetime, datetime.date)):
        e = _stat_scalar(v)
        return None if e is None else b"i:%d" % e
    return None


def _bloom_hashes(data: bytes) -> tuple[int, int]:
    """(h1, h2) for Kirsch–Mitzenmacher double hashing; h2 forced odd
    so probe sequences cycle the whole power-of-two bitmap."""
    import hashlib

    d = hashlib.blake2b(data, digest_size=16).digest()
    return (
        int.from_bytes(d[:8], "little"),
        int.from_bytes(d[8:], "little") | 1,
    )


def _bloom_build(values) -> dict | None:
    """Distinct hashable values → ``{"m": bits, "k": probes, "b64":
    bitmap}`` (None when nothing hashable — column all-NULL/floats)."""
    import base64

    keys = set()
    for v in values:
        kb = _bloom_key_bytes(v)
        if kb is not None:
            keys.add(kb)
    if not keys:
        return None
    n = len(keys)
    m = min(
        _BLOOM_MAX_BITS,
        max(_BLOOM_MIN_BITS, 1 << (n * _BLOOM_BITS_PER_KEY - 1).bit_length()),
    )
    k = max(1, min(_BLOOM_MAX_K, round(0.693 * m / n)))
    bits = bytearray(m >> 3)
    for kb in keys:
        h1, h2 = _bloom_hashes(kb)
        for i in range(k):
            idx = (h1 + i * h2) % m
            bits[idx >> 3] |= 1 << (idx & 7)
    return {"m": m, "k": k, "b64": base64.b64encode(bytes(bits)).decode()}


def _bloom_may_contain(bloom: dict, value) -> bool:
    """False ONLY when the bitmap proves the value absent."""
    import base64

    kb = _bloom_key_bytes(value)
    if kb is None:
        return True
    m, k = int(bloom["m"]), int(bloom["k"])
    bits = base64.b64decode(bloom["b64"])
    h1, h2 = _bloom_hashes(kb)
    for i in range(k):
        idx = (h1 + i * h2) % m
        if not (bits[idx >> 3] >> (idx & 7)) & 1:
            return False
    return True


def _file_may_match(entry: dict, prune: dict) -> bool:
    """Range skip test: False ONLY when the file's recorded [min, max]
    for some pruned column provably misses [lo, hi]."""
    cols = (entry.get("stats") or {}).get("cols") or {}
    for col, (lo, hi) in prune.items():
        s = cols.get(col)
        if not s:
            continue
        mn, mx = s[0], s[1]
        lo_c, hi_c = _stat_scalar(lo), _stat_scalar(hi)
        try:
            if lo_c is not None and mx is not None and mx < lo_c:
                return False
            if hi_c is not None and mn is not None and mn > hi_c:
                return False
        except TypeError:
            continue  # incomparable bound/stat types — keep the file
    return True


def _file_may_match_isin(entry: dict, isin: dict) -> bool:
    """IN skip test (``col IN (v1..vn)``): the file survives only if,
    for every column, AT LEAST ONE value lies inside the recorded
    [min, max] AND is admitted by the per-file bloom when one is
    indexed. An empty list matches nothing (SQL ``IN ()``)."""
    cols = (entry.get("stats") or {}).get("cols") or {}
    blooms = entry.get("bloom") or {}
    for col, values in isin.items():
        s = cols.get(col)
        alive = []
        for v in values:
            c = _stat_scalar(v)
            if s and c is not None:
                mn, mx = s[0], s[1]
                try:
                    if mx is not None and mx < c:
                        continue
                    if mn is not None and mn > c:
                        continue
                except TypeError:
                    pass  # incomparable bound/stat types — keep value
            alive.append(v)
        if not alive:
            return False
        b = blooms.get(col)
        if b is not None and not any(
            _bloom_may_contain(b, v) for v in alive
        ):
            return False
    return True


def _part_may_match(
    entry: dict,
    prune: dict | None = None,
    isin: dict | None = None,
) -> bool:
    """EXACT partition skip test over an add-entry's recorded ``part``
    values. Unlike the min/max stats test this is an invariant, not an
    estimate: every row in the file carries exactly the recorded value,
    so a NULL partition value skips under any bound or IN-list (SQL
    comparison semantics — NULL matches nothing), and a mismatched
    value skips even where footer stats were dropped. Columns absent
    from ``part`` (or incomparable bound types) keep the file — the
    row-level predicate still applies."""
    part = entry.get("part")
    if not part:
        return True
    for col, (lo, hi) in (prune or {}).items():
        if col not in part:
            continue
        v = part[col]
        lo_c, hi_c = _stat_scalar(lo), _stat_scalar(hi)
        if v is None:
            if lo_c is not None or hi_c is not None:
                return False
            continue
        try:
            if lo_c is not None and v < lo_c:
                return False
            if hi_c is not None and v > hi_c:
                return False
        except TypeError:
            continue
    for col, values in (isin or {}).items():
        if col not in part:
            continue
        v = part[col]
        if v is None or not values:
            return False  # NULL partition / IN (): matches nothing
        # skip ONLY if every value is provably unequal; an unencodable
        # or type-mismatched value keeps the file conservatively
        for val in values:
            c = _stat_scalar(val)
            if c is None:
                break
            if isinstance(v, (int, float)) and isinstance(c, (int, float)):
                if v == c:
                    break
            elif type(v) is not type(c) or v == c:
                break
        else:
            return False
    return True


def file_predicate(
    prune: dict | None = None,
    eq: dict | None = None,
    isin: Mapping | Iterable | None = None,
    mapping: dict | None = None,
) -> Callable[[dict], bool]:
    """The ONE file-skip decision: ``keep(entry)`` is False only when
    the add-entry provably holds no row matching every conjunct —
    ``prune`` ranges (``col → (lo, hi)``, None = open bound), ``eq``
    equalities (``col → value``) and ``isin`` IN-lists (``col →
    values``, or ``(col, values)`` pairs when one column carries
    several). Keys are LOGICAL column names; ``mapping`` (the table's
    column mapping) translates them to the PHYSICAL names stats,
    blooms and partition values are recorded under. Each equality is
    a one-value IN conjunct of its own, never merged into an IN-list
    on the same column."""
    mapping = mapping or {}
    ranges = {mapping.get(c, c): b for c, b in (prune or {}).items()}
    pairs = isin.items() if isinstance(isin, Mapping) else isin or ()
    ins = [{mapping.get(c, c): (v,)} for c, v in (eq or {}).items()]
    ins += [{mapping.get(c, c): tuple(vs)} for c, vs in pairs]

    def keep(entry: dict) -> bool:
        return (
            _file_may_match(entry, ranges)
            and _part_may_match(entry, prune=ranges)
            and all(
                _file_may_match_isin(entry, i)
                and _part_may_match(entry, isin=i)
                for i in ins
            )
        )

    return keep


def fold_range(prune: dict, col: str, lo=None, hi=None) -> None:
    """Intersect ``[lo, hi]`` (None = open) into ``prune[col]`` in
    place — the one interval fold behind every extracted range. Raises
    ``TypeError`` on bounds incomparable with the folded ones, leaving
    ``prune`` untouched (the caller drops that conjunct)."""
    clo, chi = prune.get(col, (None, None))
    if lo is not None:
        clo = lo if clo is None else max(clo, lo)
    if hi is not None:
        chi = hi if chi is None else min(chi, hi)
    prune[col] = (clo, chi)


def skip_counts(live: list, kept: list, dvs: dict) -> dict:
    """``files_total`` / ``files_read`` / ``files_skipped`` /
    ``rows_skipped`` of a skip decision that kept ``kept`` of the live
    entries. Skipped rows net out deletion-vector positions and are
    None when some skipped file predates stats collection."""
    read = {e["path"] for e in kept}
    skipped = [e for e in live if e["path"] not in read]
    rows = [
        None
        if (e.get("stats") or {}).get("rows") is None
        else e["stats"]["rows"] - len(dvs.get(e["path"], ()))
        for e in skipped
    ]
    return {
        "files_total": len(live),
        "files_read": len(live) - len(skipped),
        "files_skipped": len(skipped),
        "rows_skipped": None if None in rows else sum(rows),
    }
