"""Corpus-ingest recipe (plans/ingest.py) — the dedup-family ∘
lakehouse loop: verdict correctness against hand-built duplicates,
exactly-once crash replay (the fingerprint MERGE must be idempotent and
the txn markers must resume a half-landed batch), and the streaming
sink form."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_flink_harshevents_spark.plans.ingest import (
    corpus_ingest,
    corpus_ingest_sink,
    create_fingerprint_table,
)
from kafka_flink_harshevents_spark.sources.txlog import TxTable


def _tables(spark, tmp_path):
    corpus = TxTable.create(
        spark, str(tmp_path / "corpus"), key_cols=("doc_id",),
        order_col="ver", n_buckets=2,
    )
    fps = create_fingerprint_table(
        spark, str(tmp_path / "fps"), n_buckets=2
    )
    return corpus, fps


_HIST = [
    (1, "the quick brown fox jumps over the lazy dog again and again", 1),
    (2, "completely different historical content with many unique words", 1),
]
_SCHEMA = "doc_id long, text string, ver long"


def test_verdicts_and_store_growth(spark, tmp_path):
    corpus, fps = _tables(spark, tmp_path)
    hist = spark.createDataFrame(_HIST, _SCHEMA)
    r0 = corpus_ingest(corpus, fps, hist)
    assert r0["kept"] == 2 and r0["docs_in"] == 2
    batch = spark.createDataFrame(
        [
            # exact copy of doc 1
            (10, _HIST[0][1], 1),
            # shares doc 1's first 8-word span (span containment)
            (11, "the quick brown fox jumps over the lazy "
                 "entirely novel tail of words here", 1),
            # fresh
            (12, "nothing in common with anything stored before now", 1),
        ],
        _SCHEMA,
    )
    r = corpus_ingest(corpus, fps, batch)
    assert r["docs_in"] == 3
    assert r["exact_dups"] == 1  # doc 10
    assert r["span_dups"] >= 1   # doc 10 (full overlap) + doc 11
    assert r["kept"] == 1        # only doc 12
    got = sorted(r["doc_id"] for r in corpus.read().collect())
    assert got == [1, 2, 12]
    # the accepted doc's fingerprints entered the store: an exact copy
    # of 12 is now caught
    r2 = corpus_ingest(
        corpus, fps,
        spark.createDataFrame([(13, batch.collect()[2]["text"], 1)],
                              _SCHEMA),
    )
    assert r2["exact_dups"] == 1 and r2["kept"] == 0


def test_quality_routing_excludes_fingerprints(spark, tmp_path):
    corpus, fps = _tables(spark, tmp_path)
    low = "a a a a"  # tiny + repetitious → low score
    r = corpus_ingest(
        corpus, fps,
        spark.createDataFrame([(1, low, 1)], _SCHEMA),
        min_quality=0.5,
    )
    assert r["low_quality"] == 1 and r["kept"] == 0
    assert corpus.latest_version() == 1  # nothing committed
    # rejected docs leave NO fingerprints: the same text re-judged
    r2 = corpus_ingest(
        corpus, fps,
        spark.createDataFrame([(2, low, 1)], _SCHEMA),
    )
    assert r2["exact_dups"] == 0 and r2["kept"] == 1


def test_crash_replay_exactly_once(spark, tmp_path):
    """Crash between the corpus append and the fingerprint merge →
    replaying the same txn resumes to the clean-run end state; a full
    replay after success is a no-op; and the fingerprint MERGE itself
    is idempotent (same keys re-merge to the same single row)."""
    corpus, fps = _tables(spark, tmp_path)
    corpus_ingest(
        corpus, fps, spark.createDataFrame(_HIST, _SCHEMA),
        txn={"app_id": "seed", "batch_id": 0},
    )
    batch = spark.createDataFrame(
        [(10, "fresh content number one of the replay test", 1),
         (11, _HIST[0][1], 1)],
        _SCHEMA,
    )
    txn = {"app_id": "ing", "batch_id": 1}

    # simulate the crash: let the corpus append commit, fail the merge
    real_merge = fps.merge_upsert
    def boom(*a, **k):
        raise RuntimeError("crash before fingerprint merge")
    fps.merge_upsert = boom
    with pytest.raises(RuntimeError, match="crash"):
        corpus_ingest(corpus, fps, batch, txn=txn)
    fps.merge_upsert = real_merge
    v_corpus_after_crash = corpus.latest_version()
    assert corpus.last_committed_batch("ing") == 1  # append landed
    assert fps.last_committed_batch("ing") == -1    # merge did not

    # replay the SAME call: corpus skipped, fingerprints merged
    r = corpus_ingest(corpus, fps, batch, txn=txn)
    assert not r["replayed"]
    assert corpus.latest_version() == v_corpus_after_crash
    assert fps.last_committed_batch("ing") == 1
    n_fp = fps.read().count()
    # doc 10's fingerprints are queryable; doc 11 was an exact dup
    got = sorted(r["doc_id"] for r in corpus.read().collect())
    assert got == [1, 2, 10]

    # full replay after success: both tables skip, versions frozen
    r2 = corpus_ingest(corpus, fps, batch, txn=txn)
    assert r2["replayed"]
    assert corpus.latest_version() == v_corpus_after_crash
    assert fps.read().count() == n_fp

    # raw MERGE idempotency: re-merging the same fingerprint keys
    # changes nothing but the version counter
    fp_rows = sorted(
        (r["kind"], r["fp"]) for r in fps.read().collect()
    )
    fps.merge_upsert(
        fps.read().select("kind", "fp",
                          F.lit(1).cast("long").alias("ver"))
    )
    assert sorted(
        (r["kind"], r["fp"]) for r in fps.read().collect()
    ) == fp_rows


def test_streaming_sink_exactly_once(spark, tmp_path):
    corpus, fps = _tables(spark, tmp_path)
    land = str(tmp_path / "landing")
    spark.createDataFrame(_HIST, _SCHEMA).write.parquet(land)
    src = spark.readStream.schema(_SCHEMA).parquet(land)
    q = (
        src.writeStream.foreachBatch(
            corpus_ingest_sink(corpus, fps, "stream-ing")
        )
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert corpus.read().count() == 2
    v = corpus.latest_version()
    # restart over the same checkpoint: no new batch, no new commit
    q2 = (
        spark.readStream.schema(_SCHEMA).parquet(land)
        .writeStream.foreachBatch(
            corpus_ingest_sink(corpus, fps, "stream-ing")
        )
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert corpus.latest_version() == v and corpus.read().count() == 2


def _tables_attr(spark, tmp_path):
    corpus = TxTable.create(
        spark, str(tmp_path / "corpus"), key_cols=("doc_id",),
        order_col="ver", n_buckets=2,
    )
    fps = create_fingerprint_table(
        spark, str(tmp_path / "fps"), n_buckets=2, attributed=True
    )
    return corpus, fps


_BASE20 = ("alpha bravo charlie delta echo foxtrot golf hotel india "
           "juliet kilo lima mike november oscar papa quebec romeo "
           "sierra tango")


def test_verify_mode_rejects_verified_near_dups(spark, tmp_path):
    """near_dup_mode='verify': a band collision verified at the exact
    Jaccard (the doc_minhash_lsh_pairs convention) is REJECTED; the
    same setup in advisory mode keeps it — and the verified set
    matches a hand Jaccard over the same shingles (parity with
    running the batch dedup after the fact)."""
    from kafka_flink_harshevents_spark.operators.text import (
        LSH_VERIFY_THRESHOLD,
    )

    # near-dup: one word PREPENDED — every 8-word span chunk shifts
    # (no span containment), bigram Jaccard 19/20 = 0.95
    near = "zulu " + _BASE20
    fresh = ("one unrelated sentence about completely different "
             "topics entirely separate from anything else")
    hist = spark.createDataFrame([(1, _BASE20, 1)], _SCHEMA)
    batch = spark.createDataFrame(
        [(10, near, 1), (11, fresh, 1)], _SCHEMA
    )

    # hand Jaccard over the same word-bigram shingles
    def sh(t):
        ws = t.split(" ")
        return {f"{a} {b}" for a, b in zip(ws, ws[1:])}

    jac = len(sh(near) & sh(_BASE20)) / len(sh(near) | sh(_BASE20))
    assert jac >= LSH_VERIFY_THRESHOLD

    corpus, fps = _tables_attr(spark, tmp_path / "v")
    corpus_ingest(corpus, fps, hist, near_dup_mode="verify")
    r = corpus_ingest(corpus, fps, batch, near_dup_mode="verify")
    assert r["near_dups"] >= 1           # band collision observed
    assert r["near_dups_verified"] == 1  # doc 10, Jaccard-confirmed
    assert r["exact_dups"] == 0 and r["span_dups"] == 0
    assert r["kept"] == 1
    got = sorted(x["doc_id"] for x in corpus.read().collect())
    assert got == [1, 11]
    # rejected near-dup left NO fingerprints
    assert fps.read().filter(F.col("doc") == 10).count() == 0

    # advisory mode on the same program keeps the near-dup
    corpus2, fps2 = _tables(spark, tmp_path / "a")
    corpus_ingest(corpus2, fps2, hist)
    r2 = corpus_ingest(corpus2, fps2, batch)
    assert r2["near_dups"] >= 1 and r2["near_dups_verified"] == 0
    assert r2["kept"] == 2


@pytest.mark.slow
def test_verify_mode_band_collision_below_threshold_kept(spark, tmp_path):
    """A band collision whose exact Jaccard falls BELOW the threshold
    is advisory-only even in verify mode — verification must confirm,
    not rubber-stamp, the candidate signal. Exercised by forcing a
    kind-2 collision via a doctored store row."""
    corpus, fps = _tables_attr(spark, tmp_path)
    hist = spark.createDataFrame([(1, _BASE20, 1)], _SCHEMA)
    corpus_ingest(corpus, fps, hist, near_dup_mode="verify")
    # doctored: register one of the NEW doc's band hashes as if doc 1
    # had produced it (a raw band collision with low real similarity)
    from kafka_flink_harshevents_spark.streaming.dedup import (
        doc_fingerprints,
    )

    newdoc = ("totally fresh words that share nothing with the "
              "stored document at all in any way")
    new_bands = (
        doc_fingerprints(
            spark.createDataFrame([(99, newdoc, 1)], _SCHEMA)
            .select("doc_id", "text").withColumn("is_seed", F.lit(0))
        )
        .filter(F.col("kind") == 2)
        .select("kind", "fp")
        .limit(1)
        .withColumn("doc", F.lit(1).cast("long"))
        .withColumn("ver", F.lit(1).cast("long"))
    )
    fps.merge_upsert(new_bands)
    r = corpus_ingest(
        corpus, fps,
        spark.createDataFrame([(99, newdoc, 1)], _SCHEMA),
        near_dup_mode="verify",
    )
    assert r["near_dups"] == 1           # collision seen
    assert r["near_dups_verified"] == 0  # refuted by exact Jaccard
    assert r["kept"] == 1


def test_verify_mode_requires_attributed_store(spark, tmp_path):
    corpus, fps = _tables(spark, tmp_path)
    with pytest.raises(ValueError, match="attributed"):
        corpus_ingest(
            corpus, fps,
            spark.createDataFrame([(1, "a b c", 1)], _SCHEMA),
            near_dup_mode="verify",
        )
    with pytest.raises(ValueError, match="near_dup_mode"):
        corpus_ingest(
            corpus, fps,
            spark.createDataFrame([(1, "a b c", 1)], _SCHEMA),
            near_dup_mode="strict",
        )


@pytest.mark.slow
def test_verify_mode_crash_replay(spark, tmp_path):
    """Exactly-once holds in verify mode: crash between the two
    commits, replay the txn, end state equals the clean run."""
    corpus, fps = _tables_attr(spark, tmp_path)
    corpus_ingest(
        corpus, fps, spark.createDataFrame([(1, _BASE20, 1)], _SCHEMA),
        txn={"app_id": "seed", "batch_id": 0}, near_dup_mode="verify",
    )
    batch = spark.createDataFrame(
        [(10, "zulu " + _BASE20, 1),
         (11, "fresh standalone words nothing shared here at all", 1)],
        _SCHEMA,
    )
    txn = {"app_id": "ing", "batch_id": 1}
    real_merge = fps.merge_upsert

    def boom(*a, **k):
        raise RuntimeError("crash before fingerprint merge")

    fps.merge_upsert = boom
    with pytest.raises(RuntimeError, match="crash"):
        corpus_ingest(corpus, fps, batch, txn=txn,
                      near_dup_mode="verify")
    fps.merge_upsert = real_merge
    r = corpus_ingest(corpus, fps, batch, txn=txn,
                      near_dup_mode="verify")
    assert r["near_dups_verified"] == 1
    got = sorted(x["doc_id"] for x in corpus.read().collect())
    assert got == [1, 11]
    assert fps.last_committed_batch("ing") == 1


@pytest.mark.slow
def test_verify_mode_stored_text_fetch_is_candidate_pruned(
    spark, tmp_path
):
    """Verify mode's stored-text fetch must be the FILE-PRUNED
    ``read(isin={"doc_id": candidates})`` — files opened ∝ band
    collisions, never a full corpus text scan — and must not touch
    the corpus at all when a batch produces zero collisions."""
    from kafka_flink_harshevents_spark.streaming.dedup import (
        doc_fingerprints,
    )

    corpus = TxTable.create(
        spark, str(tmp_path / "corpus"), key_cols=("doc_id",),
        order_col="ver", n_buckets=2, bloom_cols=("doc_id",),
    )
    fps = create_fingerprint_table(
        spark, str(tmp_path / "fps"), n_buckets=2, attributed=True
    )
    # seed in FOUR waves so the corpus spans several files; wave 0
    # carries the collision target, the rest are unique-word filler
    waves = [[(1, _BASE20, 1)]] + [
        [
            (w * 100 + i,
             " ".join(f"w{w}x{i}y{j}" for j in range(12)), 1)
            for i in range(5)
        ]
        for w in range(1, 4)
    ]
    for rows in waves:
        df = spark.createDataFrame(rows, _SCHEMA)
        corpus.append(df)
        fps.append(
            doc_fingerprints(
                df.select("doc_id", "text")
                .withColumn("is_seed", F.lit(0))
            )
            .select("kind", "fp", F.col("doc_id").alias("doc"))
            .distinct()
            .withColumn("ver", F.lit(1).cast("long"))
        )
    files_total = corpus.prune_report({})["files_total"]
    assert files_total >= 4

    calls = []
    real_read = corpus.read

    def spy(*a, **k):
        calls.append(k)
        return real_read(*a, **k)

    corpus.read = spy
    # one near-dup (collides with doc 1 only) + one fresh doc
    r = corpus_ingest(
        corpus, fps,
        spark.createDataFrame(
            [(500, "zulu " + _BASE20, 1),
             (501, "fresh standalone vocabulary nothing shared", 1)],
            _SCHEMA,
        ),
        near_dup_mode="verify",
    )
    corpus.read = real_read
    assert r["near_dups_verified"] == 1 and r["kept"] == 1
    fetches = [k for k in calls if "isin" in k]
    assert len(fetches) == 1
    assert list(fetches[0]["isin"]["doc_id"]) == [1]
    # the skip is real: the candidate set opens a strict file subset
    rep = corpus.prune_report({}, isin=fetches[0]["isin"])
    assert rep["files_read"] < rep["files_total"]
    assert rep["files_read"] >= 1

    # zero collisions → the corpus text column is never read
    calls.clear()
    corpus.read = spy
    r2 = corpus_ingest(
        corpus, fps,
        spark.createDataFrame(
            [(600, "entirely novel tokens appearing nowhere", 1)],
            _SCHEMA,
        ),
        near_dup_mode="verify",
    )
    corpus.read = real_read
    assert r2["kept"] == 1 and r2["near_dups"] == 0
    assert calls == []


def test_streaming_verify_ingest_kill_and_restart(spark, tmp_path):
    """Verify mode through the STREAMING sink: a micro-batch rejects
    the Jaccard-confirmed near-dup, a crash between the corpus append
    and the fingerprint merge replays over the same checkpoint to
    exactly-once, and a further restart is a no-op."""
    corpus, fps = _tables_attr(spark, tmp_path)
    corpus_ingest(
        corpus, fps, spark.createDataFrame([(1, _BASE20, 1)], _SCHEMA),
        txn={"app_id": "seed", "batch_id": 0}, near_dup_mode="verify",
    )
    land = str(tmp_path / "landing")
    chk = str(tmp_path / "chk")
    spark.createDataFrame(
        [(10, "zulu " + _BASE20, 1),
         (11, "fresh standalone words nothing shared here at all", 1)],
        _SCHEMA,
    ).write.parquet(land)

    def run():
        q = (
            spark.readStream.schema(_SCHEMA).parquet(land)
            .writeStream.foreachBatch(
                corpus_ingest_sink(
                    corpus, fps, "sv", near_dup_mode="verify"
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    real = fps.merge_upsert

    def boom(*a, **k):
        raise RuntimeError("crash before fingerprint merge")

    fps.merge_upsert = boom
    with pytest.raises(Exception, match="crash"):
        run()
    fps.merge_upsert = real
    # restart over the same checkpoint: the same batch_id resumes the
    # half-landed batch (corpus commit skipped, merge runs)
    run()
    got = sorted(x["doc_id"] for x in corpus.read().collect())
    assert got == [1, 11]  # 10 was verified near-dup → rejected
    assert fps.read().filter(F.col("doc") == 10).count() == 0
    assert fps.read().filter(F.col("doc") == 11).count() > 0
    v = corpus.latest_version()
    fv = fps.latest_version()
    run()  # nothing new: no commit on either table
    assert corpus.latest_version() == v
    assert fps.latest_version() == fv
