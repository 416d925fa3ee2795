"""Corpus-ingest recipe: the dedup family and the lakehouse meeting in
ONE exactly-once loop — the actual 100 TB training-data ingestion shape
(land → dedup against persistent fingerprint state → quality-route →
ACID append), with BOTH the accepted corpus and the fingerprint store
as transactional :class:`TxTable`\\ s.

Before this module the two stacks were deep but disjoint:
``doc_incremental_dedup`` checks a new batch against a STATIC parquet
history, and ``streaming/dedup.py`` keeps its fingerprint store in
stream state. Here the store is a TABLE — batch jobs, streams
(``corpus_ingest_sink``), and ad-hoc backfills all dedup against the
same durable, time-travelable state, and a crash between the two
commits replays to exactly-once via the per-table txn markers.

Dedup semantics are the batch twin's, verbatim (the gate's oracle
states them from the raw corpus):

- **exact**: md5(text) present in the store (kind 0);
- **span containment**: any non-overlapping SPAN_WORDS-word span
  present (kind 1 — C4-style, Raffel et al. 2020 §2.2);
- **near-dup**: any MinHash-LSH band hash present (kind 2, the SAME
  banding as ``doc_minhash_lsh_pairs`` / ``streaming/dedup.py`` —
  parity pinned there). By default ADVISORY — a band collision is a
  CANDIDATE signal and the keep rule stays exact+span, matching
  ``doc_incremental_dedup``. With ``near_dup_mode="verify"`` (and an
  attributed store) candidates are verified with exact Jaccard
  against the colliding stored docs and verified near-dups are
  rejected — the C4/CCNet-grade ingest-time keep rule.

Batch-snapshot semantics: verdicts are computed against the store AS
OF batch start, then the accepted batch's fingerprints are absorbed —
two copies in ONE batch both pass, any later copy is caught (the same
rule as both twins; intra-batch order is irrelevant).

Scale shape: the store side of every check is a keys-only left-semi
join — 16-byte hashes / span strings, NO payload movement; what
shuffles from the store is its key column only (narrow but
store-row-count-sized — the same trade ``doc_incremental_dedup``
documents), while the batch side carries the payload and is
batch-sized. The fingerprint MERGE costs ∝ touched buckets like every
keyed write; counts are ONE small aggregate over the pinned verdict
frame. At 100 TB the fingerprint table is bucketed on (kind, fp) —
uniformly distributed hashes, no skew — and the accepted-corpus
append is the ordinary bucketed stage. (Upgrade path when the store's
key shuffle itself becomes the bottleneck: the store is already
hash-bucketed on the join key, so a storage-partitioned join — read
per-bucket store files against identically-bucketed batch parts —
removes the store-side exchange entirely; not wired here because
Spark's Python DataSource cannot yet declare the bucketing to
Catalyst.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flink_harshevents_spark.operators.text import (
    LSH_VERIFY_THRESHOLD,
    quality_columns,
    shingles_sql,
)
from kafka_flink_harshevents_spark.sources.txlog import TxTable
from kafka_flink_harshevents_spark.streaming.dedup import doc_fingerprints

__all__ = [
    "create_fingerprint_table",
    "corpus_ingest",
    "corpus_ingest_sink",
]

# verify mode: max colliding stored-doc ids shipped driver-side as an
# IN-set for the file-pruned stored-text fetch; one batch colliding
# with more stored docs than this falls back to the join-against-scan
# plan (the IN-set itself would be the new bottleneck past here)
_VERIFY_PRUNE_MAX = 100_000

def create_fingerprint_table(
    spark: SparkSession,
    table_dir: str,
    n_buckets: int = 16,
    attributed: bool = False,
) -> TxTable:
    """The fingerprint store: keyed (kind, fp) — kind 0 = md5 text
    hash, 1 = word span, 2 = MinHash-LSH band hash — with a constant
    order column (a fingerprint is a presence marker; re-merging the
    same key is the idempotent no-op the crash-replay contract
    needs).

    ``attributed=True`` widens the key to (kind, fp, doc): each
    fingerprint row remembers WHICH accepted document contributed it.
    Required by ``corpus_ingest(near_dup_mode="verify")`` — verifying
    a band collision with exact Jaccard needs the colliding stored
    doc's identity to fetch its text. Presence checks are unchanged
    (semi-joins on (kind, fp) ignore the extra key column), and the
    store stays skew-free (hashes lead the key)."""
    return TxTable.create(
        spark,
        table_dir,
        key_cols=("kind", "fp", "doc") if attributed else ("kind", "fp"),
        order_col="ver",
        n_buckets=n_buckets,
    )


def _shingle_arr(text_col: str):
    """Distinct word-bigram shingle array for one text column — the
    batch ``_shingles`` shingling as an array expression, so the
    verify join needs no explode."""
    s = f"split({text_col}, ' ')"
    return F.expr(
        f"CASE WHEN size({s}) >= 2 THEN {shingles_sql(s)} ELSE array() END"
    )


def corpus_ingest(
    corpus: TxTable,
    fingerprints: TxTable,
    new_docs: DataFrame | str,
    txn: dict | None = None,
    min_quality: float | None = None,
    near_dup_mode: str = "advisory",
) -> dict:
    """Ingest one batch of documents exactly-once. ``new_docs`` is a
    DataFrame carrying at least ``(doc_id, text)`` plus the corpus
    table's other columns, or a parquet path/glob (the landing-zone
    form). ``txn = {"app_id", "batch_id"}`` makes the call replayable:
    each table skips its commit if that batch already landed, so a
    crash between the corpus append and the fingerprint merge resumes
    to the same end state (the test pins this).

    ``min_quality`` routes dedup-surviving docs through the shared
    quality battery (``operators.text.quality_columns`` — the same
    scoring the streaming router uses): docs scoring below the floor
    are counted out, not appended, and their fingerprints do NOT enter
    the store (a rejected doc is not in the corpus; a future identical
    doc must be judged on its own quality).

    ``near_dup_mode`` — what a MinHash band collision MEANS:

    - ``"advisory"`` (default): collisions are counted, never acted
      on; the keep rule is exact+span, the batch twin's.
    - ``"verify"``: collisions become candidate pairs verified with
      EXACT Jaccard against the colliding stored docs' shingle sets
      (word bigrams at ``LSH_VERIFY_THRESHOLD`` — the
      ``doc_minhash_lsh_pairs`` convention, so ingest-time near-dedup
      equals running the batch pipeline after the fact), and verified
      near-dups are REJECTED — the C4/CCNet-grade keep rule. Requires
      an ATTRIBUTED store (``create_fingerprint_table(attributed=
      True)``): candidate fetch needs the stored doc's identity.
      Scale shape: the candidate join is band-equi (pairs ∝
      collisions), the stored-text fetch is a FILE-PRUNED
      ``corpus.read(isin={"doc_id": candidates})`` — min/max stats +
      blooms skip every corpus file holding no colliding doc, so files
      opened ∝ candidates, not ∝ corpus (create the corpus with
      ``bloom_cols=("doc_id",)`` so the skip survives interleaved
      ids; above ``_VERIFY_PRUNE_MAX`` candidates it falls back to
      the scan+join plan) — and the Jaccard is a per-pair array
      intersect, never all-pairs.

    Returns ``{"docs_in", "exact_dups", "span_dups", "near_dups",
    "near_dups_verified", "low_quality", "kept", "corpus_version",
    "fingerprint_version", "replayed"}`` — near_dups stays the
    advisory collision count in both modes."""
    if near_dup_mode not in ("advisory", "verify"):
        raise ValueError(
            f"corpus_ingest: near_dup_mode {near_dup_mode!r} — "
            "expected 'advisory' or 'verify'"
        )
    attributed = "doc" in (fingerprints.meta.get("key_cols") or ())
    if near_dup_mode == "verify" and not attributed:
        raise ValueError(
            "corpus_ingest: near_dup_mode='verify' needs an attributed "
            "fingerprint store (create_fingerprint_table(attributed="
            "True)) — band verification must know WHICH stored doc "
            "collided"
        )
    spark = corpus.spark
    if isinstance(new_docs, str):
        new_docs = spark.read.parquet(new_docs)
    if txn and all(
        # read-only fast path: both commits already landed, so skip the
        # fingerprint work — whether each table still commits is
        # decided inside its own commit (TxTable._transact)
        int(txn["batch_id"]) <= t.last_committed_batch(txn["app_id"])
        for t in (corpus, fingerprints)
    ):
        return {
            "docs_in": 0, "exact_dups": 0, "span_dups": 0,
            "near_dups": 0, "near_dups_verified": 0,
            "low_quality": 0, "kept": 0,
            "corpus_version": corpus.latest_version(),
            "fingerprint_version": fingerprints.latest_version(),
            "replayed": True,
        }

    # Pinned ONCE: the store semi-join, the verify candidate join, and
    # the accepted-doc fingerprint merge below all read this one
    # materialization. Unpinned, the full fingerprint projection (the
    # per-row MinHash band fold — the batch's most expensive stage)
    # re-evaluates once per consumer: 2× in advisory mode, 3× in
    # verify mode. The frame is batch-sized (parts ∝ batch rows).
    parts = (
        doc_fingerprints(
            new_docs.select("doc_id", "text").withColumn(
                "is_seed", F.lit(0)
            )
        )
        .select("doc_id", "kind", "fp")
        .localCheckpoint(eager=True)
    )
    store_cols = "kind long, fp string" + (
        ", doc long" if attributed else ""
    )
    try:
        store = fingerprints.read().select(
            *(["kind", "fp"] + (["doc"] if attributed else []))
        )
    except ValueError:
        # virgin store (no schema recorded yet) — first-ever batch
        store = spark.createDataFrame([], store_cols)
    # keys-only semi-join per kind: which docs hit the store, and how
    hits = (
        parts.join(store.select("kind", "fp"), ["kind", "fp"], "left_semi")
        .groupBy("doc_id")
        .agg(
            F.max((F.col("kind") == 0).cast("long")).alias("x_exact"),
            F.max((F.col("kind") == 1).cast("long")).alias("x_span"),
            F.max((F.col("kind") == 2).cast("long")).alias("x_near"),
        )
    )
    verified = None
    if near_dup_mode == "verify":
        # band-equi candidates (new doc, stored doc) — pairs ∝
        # collisions; then exact Jaccard on both texts' shingle sets.
        # Pinned eagerly: the candidate-id collect below and the
        # verify join both read the one materialization (otherwise the
        # batch would be fingerprinted twice).
        cand = (
            parts.filter(F.col("kind") == 2)
            .join(store.filter(F.col("kind") == 2), ["kind", "fp"])
            .select("doc_id", F.col("doc").alias("_sdoc"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # candidate-pruned stored-text fetch: colliding stored-doc ids
        # are bounded by band collisions (batch-scale, not corpus-
        # scale), so collect them — limit-bounded — and let read(isin=)
        # skip corpus files whose min/max range + bloom prove they hold
        # none of them. Files opened ∝ candidates; the full-column
        # corpus scan only returns as the documented fallback when one
        # batch collides with >_VERIFY_PRUNE_MAX stored docs (at that
        # point an IN-set stops being the right plan shape). Create the
        # corpus with bloom_cols=("doc_id",) so the skip holds even
        # when doc_ids interleave across files.
        cand_ids = [
            r[0]
            for r in cand.select("_sdoc").distinct()
            .limit(_VERIFY_PRUNE_MAX + 1).collect()
        ]
        try:
            if not cand_ids:
                raise ValueError("no candidates")  # caught just below
            kw = (
                {"isin": {"doc_id": cand_ids}}
                if len(cand_ids) <= _VERIFY_PRUNE_MAX
                else {}
            )
            stored_txt = corpus.read(**kw).select(
                F.col("doc_id").alias("_sdoc"),
                F.col("text").alias("_stext"),
            )
        except ValueError:  # virgin corpus / zero collisions
            stored_txt = spark.createDataFrame(
                [], "_sdoc long, _stext string"
            )
        nsh = new_docs.select(
            "doc_id", _shingle_arr("text").alias("_nsh")
        )
        inter = F.size(F.array_intersect("_nsh", "_ssh")).cast("long")
        un = (
            F.size("_nsh").cast("long")
            + F.size("_ssh").cast("long")
            - inter
        )
        verified = (
            # join candidates to RAW stored text first, shingle only
            # the survivors: the shingle transform is the expensive
            # per-row stage and must run ∝ candidates, not ∝ corpus
            # (the 8× scale probe caught the projected-before-join
            # version computing shingles for every history doc)
            cand.join(stored_txt, "_sdoc")
            .withColumn("_ssh", _shingle_arr("_stext"))
            .drop("_stext")
            .join(nsh, "doc_id")
            # ratio form, the doc_minhash_lsh_pairs convention — keeps
            # the boundary arithmetic identical to the batch twin (and
            # its DuckDB oracle)
            .filter(
                (un > 0)
                & (inter / un >= F.lit(LSH_VERIFY_THRESHOLD))
            )
            .select("doc_id")
            .distinct()
            .withColumn("x_nearv", F.lit(1).cast("long"))
        )
    score, _ = quality_columns()
    verdict = new_docs.join(hits, "doc_id", "left")
    if verified is not None:
        verdict = verdict.join(verified, "doc_id", "left")
    else:
        verdict = verdict.withColumn(
            "x_nearv", F.lit(None).cast("long")
        )
    verdict = (
        verdict.select(
            "*",
            F.coalesce("x_exact", F.lit(0)).alias("_exact"),
            F.coalesce("x_span", F.lit(0)).alias("_span"),
            F.coalesce("x_near", F.lit(0)).alias("_near"),
            F.coalesce("x_nearv", F.lit(0)).alias("_nearv"),
            (
                score < F.lit(min_quality)
                if min_quality is not None
                else F.lit(False)
            ).cast("long").alias("_lowq"),
        )
        .drop("x_exact", "x_span", "x_near", "x_nearv")
        .withColumn(
            "_keep",
            (
                (F.col("_exact") == 0)
                & (F.col("_span") == 0)
                & (F.col("_nearv") == 0)
                & (F.col("_lowq") == 0)
            ).cast("long"),
        )
        # pin ONCE: the counts below, the corpus append, and the
        # fingerprint merge must all see the same verdicts (the same
        # source materialization merge_into performs)
        .localCheckpoint(eager=True)
    )
    c = verdict.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_exact").alias("ex"),
        F.sum("_span").alias("sp"),
        F.sum("_near").alias("nd"),
        F.sum(
            ((F.col("_exact") == 0) & (F.col("_span") == 0)).cast("long")
            * F.col("_nearv")
        ).alias("ndv"),
        F.sum(
            ((F.col("_exact") == 0) & (F.col("_span") == 0)
             & (F.col("_nearv") == 0)).cast("long")
            * F.col("_lowq")
        ).alias("lq"),
        F.sum("_keep").alias("keep"),
    ).collect()[0]
    accepted = verdict.filter(F.col("_keep") == 1).drop(
        "_exact", "_span", "_near", "_nearv", "_lowq", "_keep"
    )
    # with a txn, a table that already holds this batch (the crash-
    # between-commits replay) commits nothing and returns its version
    if int(c["keep"] or 0) > 0:
        corpus_v = corpus.append(accepted, txn=txn)
    else:
        corpus_v = corpus.latest_version()
    if int(c["keep"] or 0) > 0:
        sel = ["kind", "fp"] + (
            [F.col("doc_id").alias("doc")] if attributed else []
        )
        # accepted docs' fingerprints are exactly the pinned batch
        # parts restricted to accepted doc_ids (doc_fingerprints is a
        # deterministic per-row projection of text) — a semi-join
        # against the checkpoint instead of re-fingerprinting the
        # accepted texts from scratch
        new_fps = (
            parts.join(
                accepted.select("doc_id"), "doc_id", "left_semi"
            )
            .select(*sel)
            .distinct()
            .withColumn("ver", F.lit(1).cast("long"))
        )
        # idempotent by construction: the same keys re-merge to the
        # same single row — the crash-replay guarantee
        fp_v = fingerprints.merge_upsert(new_fps, txn=txn)
    else:
        fp_v = fingerprints.latest_version()
    return {
        "docs_in": int(c["n"]),
        "exact_dups": int(c["ex"] or 0),
        "span_dups": int(c["sp"] or 0),
        "near_dups": int(c["nd"] or 0),
        "near_dups_verified": int(c["ndv"] or 0),
        "low_quality": int(c["lq"] or 0),
        "kept": int(c["keep"] or 0),
        "corpus_version": corpus_v,
        "fingerprint_version": fp_v,
        "replayed": False,
    }


def corpus_ingest_sink(
    corpus: TxTable,
    fingerprints: TxTable,
    app_id: str,
    min_quality: float | None = None,
    near_dup_mode: str = "advisory",
):
    """``foreachBatch`` function: the streaming form of the loop — a
    file stream over the landing zone (``readStream.parquet``) drives
    one :func:`corpus_ingest` call per micro-batch, with the stream's
    ``batch_id`` as the txn marker, so checkpoint-recovery replays are
    no-ops and each batch lands as one corpus commit + one fingerprint
    commit. Pair with ``trigger(availableNow=True)`` for the
    cron-driven incremental-ingest pattern."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        corpus_ingest(
            corpus,
            fingerprints,
            batch_df,
            txn={"app_id": app_id, "batch_id": int(batch_id)},
            min_quality=min_quality,
            near_dup_mode=near_dup_mode,
        )

    return apply
