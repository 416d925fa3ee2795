"""Streaming incremental corpus dedup — the continuous-ingest twin of
``queries.documents.doc_incremental_dedup``.

A 100 TB crawl pipeline never re-dedups the corpus; it runs THIS
forever: a stream of new documents checked against a persistent
fingerprint store (exact text hash + C4-style span containment,
doc_incremental_dedup's two checks) that every accepted document then
grows. Here the store IS Spark streaming state:

- every doc is decomposed into fingerprint parts — one md5 text hash
  (kind 0), its non-overlapping SPAN_WORDS-word spans (kind 1, the
  same ``_spans`` chunking the batch query uses), and its MinHash-LSH
  band hashes (kind 2, the same banding as ``doc_minhash_lsh_pairs``
  — the near-dup candidate signal, computed statelessly per row);
- parts are keyed by fingerprint value into ONE
  ``applyInPandasWithState`` operator whose per-key state is a
  presence marker: the distributed, checkpointed, restart-surviving
  fingerprint store;
- history seeding is a replay: feed the historical corpus's
  fingerprints through the same stream flagged ``is_seed = 1``
  (one AvailableNow pass over the fingerprint archive). Seed rows
  populate state and emit nothing — `applyInPandasWithState` has no
  initial-state parameter, and the replay pattern is what a real
  deployment does anyway (state must come from SOMEWHERE durable).

Batch-snapshot semantics: a micro-batch's verdicts are computed against
the store AS OF batch start (``state.exists`` is read before the batch
ingests), then the whole batch is absorbed. Two copies arriving in the
SAME micro-batch both pass — and both enter the store, so any later
copy is caught. This matches the batch query exactly (it never checks
batch-vs-batch either) and makes intra-batch row order irrelevant.

Scale shape: state is one tiny row per DISTINCT fingerprint (a 32-char
hash / span string key), hash-partitioned across executors by the
groupBy — the natural sharding for a fingerprint store. At 100 TB run
it on the RocksDB state store provider (state >> heap) and, when the
crawl policy allows, a state TTL so abandoned fingerprints age out.
The per-batch shuffle is batch-sized, never store-sized — the same
property the batch twin's left-semi joins have
(queries/documents.py::doc_incremental_dedup docstring).

Reference basis: the reference's only dedup is its replay-dedup sink;
this operator family is part of the training-data-pipeline surface the
engine adds (SURVEY.md §6), built on the C4 span-dedup rule (Raffel et
al. 2020 §2.2) and standard crawl-dedup practice (exact-hash stores).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_flink_harshevents_spark.operators.text import (
    LSH_BANDS,
    MINHASH_PERMS,
    band_key_sql,
    md5_half_sql,
    seeded_md5_sql,
    shingles_sql,
    spans_sql,
)

_OUT_SCHEMA = "doc_id long, kind long, hit long"
_STATE_SCHEMA = "present long"


def _minhash_band_fps() -> F.Column:
    """Stateless MinHash-LSH band fingerprints for one document row —
    the stream-side twin of ``doc_minhash_lsh_pairs``' banding, with the
    SAME constants and hash construction (seeded md5 halves over
    distinct word-bigram shingles, MINHASH_PERMS mins banded
    LSH_BANDS × LSH_ROWS): an array of ``"<band>|<md5(band mins)>"``
    strings, empty for docs with < 2 words (no shingles — same as the
    batch pipeline, where such docs never reach the signature agg).

    Everything folds over the row's own shingle ARRAY (array_distinct /
    aggregate / transform), so it runs inside a streaming projection
    with no aggregation state — the store, not the projection, is the
    stateful part.

    Evaluation shape: lambda-bound single-pass fold. Higher-order
    functions are interpreted (no codegen subexpression elimination),
    so the naive spelling — one ``array_min(transform(transform(sh,
    md5), substring))`` per permutation — re-evaluates the shingle
    array ~PERMS times and every per-shingle md5 twice (once per hex
    half). Binding the word array once via ``transform(array(split(..
    )), ws -> ..)[0]``, the shingle array once as ``aggregate``'s
    input, and each seeded md5 once per shingle via an inner bind
    makes the row cost exactly: 1 split + 1 shingle build +
    (PERMS/2) md5 per shingle + PERMS ``least`` folds — identical
    band strings (``least`` over hex halves IS ``array_min`` of the
    per-half transform; ``'g'`` sorts after every hex digit, and
    size ≥ 2 guarantees ≥ 1 shingle replaces it).
    """
    hs = ", ".join(seeded_md5_sql(i) for i in range(MINHASH_PERMS // 2))
    upd = ", ".join(
        f"least(acc[{j}], {md5_half_sql(f'hs[{j // 2}]', j)})"
        for j in range(MINHASH_PERMS)
    )
    bands = ", ".join(
        band_key_sql(b, lambda j: f"acc[{j}]") for b in range(LSH_BANDS)
    )
    return F.expr(
        "transform(array(split(text, ' ')), ws -> "
        f"CASE WHEN size(ws) >= 2 THEN aggregate({shingles_sql()}, "
        f"array_repeat('g', {MINHASH_PERMS}), "
        f"(acc, s) -> transform(array(array({hs})), hs -> array({upd}))[0], "
        f"acc -> array({bands})) "
        "ELSE array() END)[0]"
    )


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """``(doc_id, text, is_seed)`` → one row per fingerprint part:
    ``(doc_id, is_seed, kind, fp)`` with kind 0 = md5 text hash,
    kind 1 = non-overlapping word span (the batch query's ``_spans``),
    kind 2 = MinHash-LSH band hash (near-dup candidate signal).
    Works on batch and streaming frames alike (pure projection)."""
    exact = docs.select(
        "doc_id", "is_seed", F.lit(0).cast("long").alias("kind"),
        F.md5("text").alias("fp"),
    )
    # the batch query's span chunking over the row's own words (no join
    # back for is_seed — that would be a stream-stream self-join)
    spans = docs.select(
        "doc_id",
        "is_seed",
        F.lit(1).cast("long").alias("kind"),
        F.explode(F.expr(spans_sql("split(text, ' ')"))).alias("fp"),
    )
    minhash = docs.select(
        "doc_id",
        "is_seed",
        F.lit(2).cast("long").alias("kind"),
        F.explode(_minhash_band_fps()).alias("fp"),
    )
    return exact.unionByName(spans).unionByName(minhash)


def _seen_check(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # Snapshot read BEFORE ingest: intra-batch copies don't see each
    # other (batch-vs-store semantics, matching the batch twin).
    existed = state.exists
    rows: list[tuple[int, int, int]] = []
    saw_any = False
    for pdf in pdfs:
        for r in pdf.itertuples(index=False):
            saw_any = True
            if not bool(r.is_seed):
                rows.append((int(r.doc_id), int(r.kind), 1 if existed else 0))
    if saw_any and not existed:
        state.update((1,))
    if rows:
        yield pd.DataFrame(rows, columns=["doc_id", "kind", "hit"])


def incremental_dedup_stream(docs: DataFrame) -> DataFrame:
    """Streaming ``(doc_id, text, is_seed)`` → append stream of
    per-fingerprint verdicts ``(doc_id, kind, hit)`` for non-seed docs.

    Per doc: its kind-0 row is the exact-dup verdict; it is a span-dup
    iff ANY of its kind-1 rows has ``hit = 1``. The per-doc rollup is a
    plain batch aggregation over the emitted verdict log (see
    ``dedup_verdicts`` / the parity test) — kept OUT of the stream
    because `applyInPandasWithState` must be the query's last stateful
    operator; a deployment folds it into the sink's ``foreachBatch`` or
    any downstream reader of the verdict log.
    """
    return doc_fingerprints(docs).groupBy("fp").applyInPandasWithState(
        _seen_check,
        _OUT_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def dedup_verdicts(verdict_log: DataFrame) -> DataFrame:
    """Batch rollup of the verdict stream's output log → one row per
    doc: ``(doc_id, exact_dup, span_dup, neardup_cand, keep)``.

    ``exact_dup`` / ``span_dup`` / ``keep`` follow the batch twin's
    rule exactly (keep ⇔ neither hit). ``neardup_cand`` is the
    MinHash-band collision signal — a CANDIDATE flag with banding's
    false-positive rate, not a verified Jaccard (the store keeps only
    hashes, by design; a deployment that needs verified near-dups
    re-checks candidates against the doc store, just like the batch
    LSH query's verify join)."""
    return (
        verdict_log.groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("kind") == 0, F.col("hit"))).alias("exact_dup"),
            F.coalesce(
                F.max(F.when(F.col("kind") == 1, F.col("hit"))), F.lit(0)
            ).alias("span_dup"),
            F.coalesce(
                F.max(F.when(F.col("kind") == 2, F.col("hit"))), F.lit(0)
            ).alias("neardup_cand"),
        )
        .select(
            "doc_id",
            F.col("exact_dup").cast("long").alias("exact_dup"),
            F.col("span_dup").cast("long").alias("span_dup"),
            F.col("neardup_cand").cast("long").alias("neardup_cand"),
            ((F.col("exact_dup") + F.col("span_dup")) == 0)
            .cast("long")
            .alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Continuous delete propagation — the streaming twin of
# queries.documents.doc_delete_propagation.

_DEL_OUT_SCHEMA = (
    "doc_id long, action string, fp string,"
    " present_before long, tombstoned_before long"
)
_DEL_STATE_SCHEMA = "present long, tombstoned long"


def content_events(events: DataFrame) -> DataFrame:
    """``(doc_id, text, action)`` → ``(doc_id, action, fp)`` with
    fp = md5(text): the content key deletion closes over, identical to
    the batch twin's propagation key. Pure projection — batch and
    streaming frames alike. ``action`` ∈ {'seed', 'ingest', 'delete'}
    (a real deployment resolves a delete request's doc_id to its
    content before issuing the tombstone; the batch twin reads the
    content from the corpus the same way).

    NULL text hashes to a NULL fp — dropped HERE (JVM-side, same
    convention as ``kmv_distinct_stream``): without the guard every
    NULL-text row would collapse into one NULL-keyed state bucket and
    each one after the first would report a spurious store hit."""
    return events.select(
        "doc_id", "action", F.md5("text").alias("fp")
    ).filter(F.col("fp").isNotNull())


def _tombstone_check(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # Snapshot BEFORE ingest, like _seen_check: every verdict in a
    # micro-batch reads the store as of batch start, then the whole
    # batch is absorbed (present |= seed/ingest, tombstoned |= delete).
    present, tombstoned = state.get if state.exists else (0, 0)
    rows: list[tuple[int, str, str, int, int]] = []
    saw_content = False
    saw_delete = False
    delete_idx: list[int] = []
    delete_ids: list[int] = []
    for pdf in pdfs:
        for r in pdf.itertuples(index=False):
            act = str(r.action)
            if act == "delete":
                saw_delete = True
            else:
                saw_content = True
            if act != "seed":
                if act == "delete":
                    delete_idx.append(len(rows))
                    delete_ids.append(int(r.doc_id))
                rows.append(
                    (int(r.doc_id), act, str(key[0]), present, tombstoned)
                )
    # Repeated deletes of the same content hash WITHIN one micro-batch
    # must match the cross-batch semantics: only one delete (lowest
    # doc_id — deterministic under replay) reports the batch-start
    # snapshot; the rest see (present=0, tombstoned=1), exactly what a
    # later batch would report — so an audit summing present_before
    # never double-counts a propagation, even intra-batch.
    if len(delete_idx) > 1:
        first = delete_idx[delete_ids.index(min(delete_ids))]
        for i in delete_idx:
            if i != first:
                d, a, f, _, _ = rows[i]
                rows[i] = (d, a, f, 0, 1)
    # `present` means "the store currently holds LIVE copies": a delete
    # clears it (the sink removed them), and a tombstoned hash never
    # re-gains it (rejected ingests store nothing) — so a REPEATED
    # delete of already-propagated content reports present_before = 0
    # and the compliance audit never double-counts a propagation
    # (intra-batch repeats are normalized above; cross-batch repeats
    # read the updated state naturally).
    new_tomb = 1 if (tombstoned or saw_delete) else 0
    new_present = 0 if new_tomb else (1 if (present or saw_content) else 0)
    new_state = (new_present, new_tomb)
    if new_state != (present, tombstoned) or not state.exists:
        state.update(new_state)
    if rows:
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "action", "fp", "present_before", "tombstoned_before"
            ],
        )


def delete_propagation_stream(events: DataFrame) -> DataFrame:
    """Streaming ``(doc_id, text, action)`` → append verdict log
    ``(doc_id, action, fp, present_before, tombstoned_before)``:
    the continuous-compliance twin of ``doc_delete_propagation``.

    - a ``delete`` event tombstones its content hash in the store and
      emits a retraction row; ``present_before = 1`` means the store
      held LIVE copies — the sink propagates by deleting WHERE the
      content hash matches (delete-by-fp, exactly the batch twin's
      closure over exact copies, with no need to enumerate doc_ids in
      state). The delete clears ``present``, so a REPEATED delete of
      the same content reports ``present_before = 0`` and audits never
      double-count a propagation;
    - an ``ingest`` of tombstoned content emits
      ``tombstoned_before = 1`` — deleted content must not re-enter
      the corpus (the request outlives the rows it removed);
    - ``seed`` rows replay history into state and emit nothing (the
      same seeding pattern as ``incremental_dedup_stream``).

    State is two flags per DISTINCT content hash — strictly smaller
    than the dedup store it composes with; at 100 TB run on RocksDB,
    sharded by the groupBy's hash partitioning. The per-batch shuffle
    is batch-sized, never store-sized.
    """
    return content_events(events).groupBy("fp").applyInPandasWithState(
        _tombstone_check,
        _DEL_OUT_SCHEMA,
        _DEL_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Embedding-side streaming near-dup store — the vector twin of the
# MinHash band fingerprints, closing the dedup family over embeddings.

def vector_fingerprints(vecs: DataFrame) -> DataFrame:
    """``(vec_id, embedding, is_seed)`` → one row per LSH table:
    ``(doc_id = vec_id, is_seed, kind = 3, fp = "<table>|<signature>")``
    using EXACTLY the hyperplane family of ``emb_knn_lsh`` /
    ``emb_neardup_pairs`` (seeded LCG → Box-Muller planes, sign-bit
    signatures). The signature is a pure expression over the row's own
    vector — dot products against literal plane arrays — so it runs in
    a streaming projection with no aggregation state, like
    ``_minhash_band_fps``. A store collision on ANY table's signature
    is the OR-amplified near-dup candidate signal."""
    from kafka_flink_harshevents_spark.queries.embeddings import (
        LSH_BITS,
        LSH_TABLES,
        _dot,
        _lsh_planes,
    )

    planes = _lsh_planes()
    e = vecs.select(
        F.col("vec_id").alias("doc_id"),
        "is_seed",
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    fps = []
    for t in range(LSH_TABLES):
        sig = None
        for b in range(LSH_BITS):
            plane_col = F.array(*[F.lit(v) for v in planes[t * LSH_BITS + b]])
            bit = (_dot(F.col("emb"), plane_col) > 0).cast("long") * (2**b)
            sig = bit if sig is None else sig + bit
        fps.append(F.concat(F.lit(f"{t}|"), sig.cast("string")))
    # NULL embeddings (or NULL elements) make every signature NULL —
    # filter JVM-side so they can't collapse into one NULL-keyed state
    # bucket reporting spurious hits (kmv/locf stream convention).
    return e.select(
        "doc_id",
        "is_seed",
        F.lit(3).cast("long").alias("kind"),
        F.explode(F.array(*fps)).alias("fp"),
    ).filter(F.col("fp").isNotNull())


def vector_neardup_stream(vecs: DataFrame) -> DataFrame:
    """Streaming ``(vec_id, embedding, is_seed)`` → append verdict log
    ``(doc_id, kind, hit)``: hit = 1 when the vector's table-signature
    was already in the store (near-dup CANDIDATE vs. history — the
    stream twin of ``emb_neardup_pairs``' bucket collision; a verifying
    deployment re-checks candidates' true cosine against the vector
    store, like the batch query's verify join). Same state machine,
    snapshot semantics and seeding pattern as the document store —
    state is one marker per DISTINCT (table, signature) bucket, far
    smaller than the vector corpus."""
    return vector_fingerprints(vecs).groupBy("fp").applyInPandasWithState(
        _seen_check,
        _OUT_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
