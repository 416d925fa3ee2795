"""Training-data-pipeline operators over the ``documents`` table.

These extend the reference's surface (SURVEY.md §7.8) with the document
processing a 100 TB LLM-data pipeline needs: exact dedup, two near-dup
families (all-pairs n-gram Jaccard for exactness, MinHash+LSH banding for
scale), SimHash fingerprints, token statistics, quality scoring, and
language-ID heuristics.

Portability across the DuckDB oracle is engineered in:
- the MinHash hash family is the lexicographic MIN of ``md5(seed || '|' ||
  shingle)`` hex strings — md5 is identical in every engine and hex-string
  ordering is plain byte ordering, so signatures match bit-for-bit;
- SimHash uses the first 4 md5 nibbles per token (16-bit fingerprint),
  decoded with pure arithmetic (ascii/floor/mod), no engine bit intrinsics.

Scale notes: all-pairs Jaccard is O(docs²) in the worst case and exists as
the exactness baseline; MinHash-LSH is the 100 TB path — candidate
generation is an equi-join on (band, band_hash), i.e. one shuffle whose
width is the number of *colliding* docs, not all pairs. SimHash gives a
64-bit-style fingerprint for sort-based near-dup blocking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_harshevents_spark.operators.text import (
    LSH_BANDS,
    LSH_ROWS,
    LSH_VERIFY_THRESHOLD,
    MINHASH_PERMS,
    SAMPLE_FIXED_K,
    SPAN_WORDS,
    STOPWORDS,
    _md5_unit,
    _nibble_val,
    band_hash_sql,
    bigrams_sql,
    md5_half_sql,
    quality_columns,
    round_score,
    seeded_md5_sql,
    shingles_sql,
    spans_sql,
)
from kafka_flink_harshevents_spark.queries._util import (
    _hilo_total,
    _hilo_total_sql,
    _quantize,
    hex8_int_sql,
    load,
    spread,
    temp_dir,
)
from kafka_flink_harshevents_spark.streaming.dedup import doc_fingerprints

JACCARD_THRESHOLD = 0.5

_SQL_STOPSET = ", ".join(f"'{w}'" for w in STOPWORDS)


def _words(df: DataFrame) -> DataFrame:
    # spread(): every _words consumer does per-row CPU work (split,
    # array folds, explodes) before its first exchange — a small corpus
    # arriving as one parquet file would serialize all of it on one
    # core. No-op when the scan is already ≥ cluster parallelism.
    return spread(df).select("doc_id", F.split("text", " ").alias("ws"))


def _shingles(df: DataFrame) -> DataFrame:
    """Distinct word-bigram shingles per doc (explode → narrow)."""
    return (
        _words(df)
        .filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(F.expr(shingles_sql())).alias("s"),
        )
    )


# DuckDB twin of _shingles, shared by the near-dup oracles.
_SQL_SHINGLES = """
        w AS (
            SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents WHERE len(string_split(text, ' ')) >= 2
        ),
        sh AS (
            SELECT doc_id,
                   unnest(list_distinct(
                       list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])
                   )) AS s
            FROM w
        ),
        cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization + distinct/length/stopword features —
    pure higher-order array functions, zero shuffle, scan-local."""
    d = _words(load(spark, sf_dir, "documents"))
    n_tokens = F.size("ws").cast("long")
    sum_len = F.aggregate("ws", F.lit(0).cast("long"), lambda a, w: a + F.length(w))
    n_stop = F.size(F.filter("ws", lambda w: w.isin(*STOPWORDS))).cast("long")
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct("ws")).cast("long").alias("n_unique"),
        F.round(sum_len / n_tokens, 4).alias("avg_token_len"),
        F.round(n_stop / n_tokens, 4).alias("stop_ratio"),
    )


def quality_frame(d: DataFrame) -> DataFrame:
    """(doc_id, text, …) → (doc_id, quality_score, quality_bucket):
    the pure projection behind `doc_quality_score` — batch and
    streaming frames alike (no repartition, no state)."""
    score, bucket = quality_columns()
    return d.select(
        "doc_id",
        round_score(score).alias("quality_score"),
        bucket.alias("quality_bucket"),
    )


def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length saturation + lexical diversity + stopword
    balance, bucketed — `quality_frame` over the spread corpus scan."""
    return quality_frame(spread(load(spark, sf_dir, "documents")))


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language-ID heuristic. The synthetic corpus shares
    one vocabulary across its ``lang`` labels, so this demonstrates the
    operator shape (per-doc n-gram evidence → argmax label), not label
    recovery."""
    d = _words(load(spark, sf_dir, "documents"))
    n_tokens = F.size("ws").cast("long")
    n_stop = F.size(F.filter("ws", lambda w: w.isin(*STOPWORDS))).cast("long")
    ratio = n_stop / n_tokens
    return d.select(
        "doc_id",
        F.round(ratio, 4).alias("stop_ratio"),
        F.when(ratio >= 0.04, F.lit("en")).otherwise(F.lit("und")).alias("pred_lang"),
    )


def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content hash; canonical = min doc_id.
    One shuffle on the 128-bit hash — uniformly distributed, skew-free."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint + BPE-ish regex token count (JVM regex, no UDF)."""
    d = spread(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.md5(F.lower("text")).alias("fingerprint"),
        F.expr(r"regexp_count(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')")
        .cast("long")
        .alias("n_regex_tokens"),
        F.col("n_chars"),
    )


def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (smoothed idf = ln((N+1)/(df+1))+1).

    explode → (doc, term) TF groupBy → term DF groupBy → idf join; the
    corpus size is a 1-row aggregate broadcast into the expression (no
    driver collect). The per-doc top-3 Window partitions on doc_id —
    cardinality ∝ documents, never a global sort. Ties break on the term
    string for a total order.

    Scale: both aggregations are partial+final on their natural keys;
    the DF table (one row per distinct term) is the only broadcast-sized
    intermediate joined back to the token stream.
    """
    d = _words(load(spark, sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode("ws").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "rk", F.round("tfidf", 6).alias("tfidf"))
    )


# Above this estimated incidence-matrix size the dense blocked path is no
# longer broadcast-shaped; the PPJoin prefix-filter path takes over.
JACCARD_DENSE_MAX_BYTES = 256 << 20
JACCARD_BLOCK_DOCS = 512  # docs per packed block in the dense path


def _jaccard_dense_blocked(sh: DataFrame, n_docs: int) -> DataFrame:
    """Small-vocabulary exact path: intersection sizes for a whole block
    pair of docs are ONE BLAS matmul over a 0/1 incidence matrix (0/1
    float32 products are exact for counts < 2²⁴).

    Deliberately NO global shingle index: shingles are hashed to 64 bits
    JVM-side (xxhash64 — collision odds ~V²/2⁶⁴, vanishing at any V this
    path accepts), and each kernel builds its block-pair-LOCAL dense
    index with np.unique + searchsorted. That keeps the Spark plan to
    exactly: project → groupBy(doc_id) → pack blocks → one broadcast
    self-join → mapInPandas — no ranking subtree, minimal driver
    planning. Docs are packed into blocks executor-side (applyInPandas)
    and the right side rides Spark's broadcast-join machinery — no
    driver collect, (n_blocks²)/2 embarrassingly parallel tasks."""
    import numpy as np
    import pandas as pd

    # Cached because the self-join references it twice; bounded by the
    # same guard that chose this path (the hash lists are ≤ the
    # incidence-matrix bytes).
    dsets = (
        sh.select("doc_id", F.xxhash64("s").alias("h"))
        .groupBy("doc_id")
        .agg(F.collect_list("h").alias("hs"), F.count(F.lit(1)).alias("n"))
    ).cache()
    n_blocks = max(1, -(-n_docs // JACCARD_BLOCK_DOCS))

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "blk": [int(pdf["blk"].iloc[0])],
                "ids": [pdf["doc_id"].tolist()],
                "ns": [pdf["n"].tolist()],
                "sets": [pdf["hs"].tolist()],
            }
        )

    packed = (
        dsets.withColumn("blk", F.pmod(F.xxhash64("doc_id"), F.lit(n_blocks)))
        .groupBy("blk")
        .applyInPandas(pack, schema="blk long, ids array<long>, ns array<long>, sets array<array<long>>")
    )
    pairs = (
        packed.alias("a")
        .join(F.broadcast(packed.alias("b")), F.col("a.blk") <= F.col("b.blk"))
        .select(
            F.col("a.blk").alias("blk_a"),
            F.col("a.ids").alias("a_ids"),
            F.col("a.ns").alias("a_ns"),
            F.col("a.sets").alias("a_sets"),
            F.col("b.blk").alias("blk_b"),
            F.col("b.ids").alias("b_ids"),
            F.col("b.ns").alias("b_ns"),
            F.col("b.sets").alias("b_sets"),
        )
    )

    def block_jac(it):
        def to_dense(sets, vocab_h):
            m = np.zeros((len(sets), len(vocab_h)), dtype=np.float32)
            for i, s in enumerate(sets):
                m[i, np.searchsorted(vocab_h, np.asarray(s, dtype=np.int64))] = 1.0
            return m

        for pdf in it:
            for row in pdf.itertuples(index=False):
                a_ids = np.asarray(row.a_ids, dtype=np.int64)
                b_ids = np.asarray(row.b_ids, dtype=np.int64)
                a_ns = np.asarray(row.a_ns, dtype=np.int64)
                b_ns = np.asarray(row.b_ns, dtype=np.int64)
                a_sets = [np.asarray(s, dtype=np.int64) for s in row.a_sets]
                b_sets = [np.asarray(s, dtype=np.int64) for s in row.b_sets]
                vocab_h = np.unique(np.concatenate(a_sets + b_sets))
                a = to_dense(a_sets, vocab_h)
                b = to_dense(b_sets, vocab_h)
                inter = (a @ b.T).astype(np.int64)
                union = a_ns[:, None] + b_ns[None, :] - inter
                mask = inter >= union * JACCARD_THRESHOLD
                if row.blk_a == row.blk_b:
                    mask &= a_ids[:, None] < b_ids[None, :]
                ia, ib = np.nonzero(mask)
                va, vb = a_ids[ia], b_ids[ib]
                yield pd.DataFrame(
                    {
                        "da": np.minimum(va, vb),
                        "db": np.maximum(va, vb),
                        "inter": inter[ia, ib],
                        "un": union[ia, ib],
                    }
                )

    hits = pairs.mapInPandas(block_jac, schema="da long, db long, inter long, un long")
    # final division + rounding stay in Spark SQL so both engines round
    # the identical double the same way
    return hits.select("da", "db", F.round(F.col("inter") / F.col("un"), 4).alias("jaccard"))


def _jaccard_ppjoin(sh: DataFrame) -> DataFrame:
    """Large-vocabulary exact path: PPJoin prefix + positional filtering.

    1. rarest-first TOTAL order without a global dense index: the prefix
       filter only needs a consistent total order shared by all docs, so
       (df asc, shingle asc) is encoded as one orderable string — a pure
       per-row projection off the df join (no unpartitioned Window, no
       eager vocabulary count);
    2. each doc emits only its PREFIX — the first n−⌈t·n⌉+1 shingles in
       that order; two sets with Jaccard ≥ t MUST collide in-prefix;
    3. length filter |A|·t ≤ |B| ≤ |A|/t and the PPJoin positional filter
       applied inside the candidate join;
    4. verify via per-pair set intersection — NOT on the rank strings:
       the pair×array join is the dominant cost (the candidate side can
       be 1000× the corpus), so the verify arrays carry 64-bit
       ``xxhash64`` shingle identities (8 B longs instead of ~36 B
       strings — measured 64→~20 s at the 8× replication point). Hash
       identity is the minhash family's standing convention; a corpus
       of 10^9 distinct shingles has < 3·10^-2 ppm chance of ANY
       colliding pair, and the DuckDB oracle intersects the true
       strings, so a collision would surface as a hash mismatch.
    """
    vocab = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(vocab, "s").select(
        "doc_id",
        F.concat(F.lpad(F.col("df").cast("string"), 10, "0"), F.lit("|"), F.col("s")).alias("rk"),
        F.xxhash64("s").alias("h"),
    )
    docs = ranked.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("rk")).alias("sset"),
        F.collect_list("h").alias("hset"),
        F.count(F.lit(1)).alias("n"),
    )
    prefix_len = (F.col("n") - F.ceil(F.col("n") * F.lit(JACCARD_THRESHOLD)) + 1).cast("int")
    prefixes = docs.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("sset", 1, prefix_len)).alias("pos", "rk"),
    ).withColumn("pos", F.col("pos") + 1)  # 1-based position in the set
    # PPJoin positional filter: the overlap still reachable from this
    # collision is 1 + min(n_a - pos_a, n_b - pos_b); Jaccard ≥ t needs
    # overlap ≥ ceil(t/(1+t) · (n_a+n_b)).
    min_overlap = F.ceil(
        F.lit(JACCARD_THRESHOLD / (1 + JACCARD_THRESHOLD))
        * (F.col("a.n") + F.col("b.n"))
    )
    reachable = 1 + F.least(
        F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
    )
    cand = (
        prefixes.alias("a")
        .join(
            prefixes.alias("b"),
            (F.col("a.rk") == F.col("b.rk"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") >= F.col("a.n") * F.lit(JACCARD_THRESHOLD))
            & (F.col("b.n") <= F.col("a.n") / F.lit(JACCARD_THRESHOLD))
            & (reachable >= min_overlap),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    # Verify stage is CANDIDATE-bounded, never corpus-bounded: the
    # sparse path is selected precisely when the corpus is too big to
    # broadcast, so broadcasting `docs` here would OOM the executors at
    # exactly the scale this path exists for (VERDICT r03 item 2).
    # Instead: materialize the candidate pairs once (they feed three
    # branches), left-semi-join the corpus down to docs that appear in
    # at least one candidate pair, and verify with plain equi-joins —
    # AQE broadcast-converts the semi-joined side when it fits, and
    # falls back to a shuffle join (width ∝ candidates) when it doesn't.
    cand = cand.localCheckpoint(eager=True)
    cand_ids = (
        cand.select(F.col("da").alias("doc_id"))
        .union(cand.select(F.col("db").alias("doc_id")))
        .distinct()
    )
    needed = docs.join(cand_ids, "doc_id", "left_semi").select("doc_id", "hset", "n")
    inter = F.size(F.array_intersect(F.col("ca.hset"), F.col("cb.hset"))).cast("long")
    jac = inter / (F.col("ca.n") + F.col("cb.n") - inter)
    return (
        cand.join(needed.alias("ca"), F.col("da") == F.col("ca.doc_id"))
        .join(needed.alias("cb"), F.col("db") == F.col("cb.doc_id"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select("da", "db", F.round(jac, 4).alias("jaccard"))
    )


def doc_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs bigram-shingle Jaccard ≥ t — vocabulary-adaptive.

    Exact all-pairs similarity has two published efficient shapes, and
    which one wins depends on the vocabulary:

    - **dense vocabulary** (vocab small enough that the 0/1 incidence
      matrix fits a broadcast): prefix filters barely prune — nearly all
      pairs collide on common shingles — so the fastest exact plan is a
      blocked incidence matmul (`_jaccard_dense_blocked`);
    - **sparse vocabulary** (the usual shape for real corpora, where the
      matrix cannot exist): PPJoin prefix + positional filtering with a
      distributed rarest-first order (`_jaccard_ppjoin`).

    The guard is a scalar probe (one narrow pass — approx distinct needs
    no shuffle), the same two-pass shape as every broadcast decision.
    Both paths are exact and hash-match the same oracle.

    Complexity honesty (measured, 8× replication): at t = 0.5 prefix
    filtering prunes only ~75% of same-vocabulary doc pairs (the
    aggregated positional bound prunes ZERO further — prefix filters
    are designed for t ≥ 0.7), so the verify stage is Θ(collision
    pairs) — within-group quadratic. That is a property of the PROBLEM
    (exact all-pairs at moderate thresholds has near-quadratic output
    potential), not the plan; the truly-unbounded scale path for
    near-dup remains MinHash-LSH, and this entry's job is exactness
    within the guarded regime."""
    # The shingle stream feeds the probe AND (twice) whichever path wins
    # — materialize it once (measured: 8.7→4.4 s cold at sf0.1; a
    # cluster deployment swaps in persist(DISK_ONLY) at the same line,
    # the DSIR convention, since the frame is corpus-sized).
    sh = _shingles(load(spark, sf_dir, "documents")).localCheckpoint()
    probe = sh.agg(
        F.approx_count_distinct("s").alias("nv"),
        F.approx_count_distinct("doc_id").alias("nd"),
    ).first()
    n_docs, n_vocab = probe["nd"], probe["nv"]
    if n_docs * n_vocab * 4 <= JACCARD_DENSE_MAX_BYTES:
        return _jaccard_dense_blocked(sh, n_docs)
    return _jaccard_ppjoin(sh)


def _minhash_sigs(sh: DataFrame) -> DataFrame:
    """(doc_id, s) shingle stream → one row per doc with the 12 minhash
    permutations m0..m11. Hash every (doc, shingle) row rather than
    joining a pre-hashed vocabulary: scan-local md5s stay inside the
    narrow map stage, whereas the dedup-then-join variant re-shuffles
    the whole shingle stream — measured a wash at sf0.1 and strictly
    worse at scale (CPU beats network). Each 128-bit md5 yields TWO
    64-bit minhash permutations (its hex halves), so 12 permutations
    cost 6 hashes; the halves are projected before the aggregate so
    each md5 is computed once (separate agg children don't share
    subexpressions). Shared by `doc_minhash_lsh_pairs` and
    `doc_minhash_calibration` — the calibrated pipeline IS the
    production one."""
    halves = sh.select(
        "doc_id",
        *[
            F.expr(md5_half_sql(seeded_md5_sql(j // 2), j)).alias(f"h{j}")
            for j in range(MINHASH_PERMS)
        ],
    )
    return halves.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(MINHASH_PERMS)]
    )


def doc_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup — the 100 TB scale path.

    12 min-hashes (lexicographic min of seeded md5 hex — portable across
    engines), banded 4×3; candidate pairs share at least one band hash,
    then get verified with the exact Jaccard. Candidate generation is an
    equi-join on (band, band_hash): shuffle width ∝ colliding docs only.
    """
    docs = load(spark, sf_dir, "documents")
    sh = _shingles(docs)  # _shingles spreads — CPU-heavy per-row stage
    sigs = _minhash_sigs(sh)

    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.expr(band_hash_sql(b, lambda j: f"m{j}")).alias("bv"),
        )
        for b in range(LSH_BANDS)
    ]
    bands = sigs.select("doc_id", F.explode(F.array(*band_structs)).alias("x")).select(
        "doc_id", F.col("x.band").alias("band"), F.col("x.bv").alias("bv")
    )

    # Candidate pairs per colliding bucket WITHOUT a bands self-join: a
    # self-join evaluates the whole shingle→signature pipeline twice; a
    # groupBy on (band, bv) evaluates it once and emits each bucket's
    # ordered pair combinations with higher-order array functions. Bucket
    # width is the LSH collision count — the same quantity that bounded
    # the join — so the per-row pair array is small by construction.
    buckets = (
        bands.groupBy("band", "bv")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pair_expr = F.expr(
        """flatten(
               transform(ds, (x, i) ->
                   transform(slice(ds, i + 2, size(ds) - i - 1),
                             y -> struct(x AS da, y AS db))))"""
    )
    cand = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.da").alias("da"), F.col("p.db").alias("db"))
        .distinct()
    )

    # Verify candidates with a per-pair linear merge on collected shingle
    # arrays — no re-explode, no second wide shuffle. (Eagerly pinning
    # this frame and the shingle stream was tried in round 12 and
    # reverted: two full-catalog sweeps timed the pinned spelling
    # ~1.6× the lazy one on this entry — construction-time
    # materialization serializes what the lazy DAG overlaps.)
    full = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("s")).alias("sset"),
        F.count(F.lit(1)).alias("n"),
    )
    inter = F.size(F.array_intersect(F.col("ca.sset"), F.col("cb.sset"))).cast("long")
    jac = inter / (F.col("ca.n") + F.col("cb.n") - inter)
    return (
        cand.join(full.alias("ca"), F.col("da") == F.col("ca.doc_id"))
        .join(full.alias("cb"), F.col("db") == F.col("cb.doc_id"))
        .filter(jac >= LSH_VERIFY_THRESHOLD)
        .select("da", "db", F.round(jac, 4).alias("jaccard"))
    )


def doc_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration — the diagnostic a dedup pipeline
    publishes before trusting banding thresholds: for every verified
    near-dup pair, the signature-level similarity estimate
    (matching permutations / 12 — the quantity LSH banding actually
    thresholds on) next to the exact shingle Jaccard it estimates, and
    their absolute error. E[est] = J by the MinHash theorem; with only
    12 permutations the per-pair spread is large (sd ≈ √(J(1−J)/12)),
    which is exactly what this table makes visible — the evidence for
    choosing permutation counts and band shapes at 100 TB.

    Everything is deterministic (md5 permutations, exact intersection),
    so the per-pair rows are fully oracle-hashed. Plan: the verified
    pair set and the signature table are the SAME subtrees as
    `doc_minhash_lsh_pairs` (shared helpers — the calibrated pipeline
    is the production one); the estimate join touches 12 fixed columns
    per side, keyed on doc_id.
    """
    pairs = doc_minhash_lsh_pairs(spark, sf_dir)
    sigs = _minhash_sigs(_shingles(load(spark, sf_dir, "documents")))
    n_match = sum(
        (F.col(f"sa.m{i}") == F.col(f"sb.m{i}")).cast("int")
        for i in range(MINHASH_PERMS)
    ).cast("long")
    est = F.col("n_match") / F.lit(float(MINHASH_PERMS))
    return (
        pairs.join(sigs.alias("sa"), F.col("da") == F.col("sa.doc_id"))
        .join(sigs.alias("sb"), F.col("db") == F.col("sb.doc_id"))
        .select("da", "db", "jaccard", n_match.alias("n_match"))
        .select(
            "da",
            "db",
            "n_match",
            F.round(est, 4).alias("est_sim"),
            "jaccard",
            F.round(F.abs(est - F.col("jaccard")), 4).alias("abs_err"),
        )
    )


PR_ITERS = 5  # fixed PageRank iterations (unrolled in the oracle)
PR_SCALE = 1_000_000_000  # nano-unit integer probability mass
# ≤ this many symmetric edges → PageRank runs the SAME integer
# fixed-point loop vectorized on the driver (bounded Arrow collect,
# the graph.py CC_DRIVER_MAX_EDGES rule) instead of ~3 scheduled jobs
# per iteration; identical ranks by integer exactness.
PR_DRIVER_MAX_EDGES = 500_000


def doc_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the verified near-dup pair graph — the iterative-
    algorithm family (CC in `operators/graph.py` converges a min-label
    FOLD; PageRank iterates a weighted REDISTRIBUTION — the centrality
    signal that surfaces hub/boilerplate documents inside big near-dup
    neighborhoods, where plain degree over-counts cliques).

    Engine-exact iteration: all mass lives in integer nano-units, each
    step is pr' = (15·S) div (100·N) + Σ_in (85·pr(u)) div (100·deg(u))
    — integer division only, so PR_ITERS steps are bit-identical in any
    engine and under any partitioning, and the DuckDB oracle simply
    UNROLLS the five steps as CTEs. (Floating-point PageRank would
    diverge in the last ULPs per engine — the same reason k-means emits
    a gate; integer fixed-point is what makes this one fully
    row-hashable.)

    Scale shape: per iteration ONE edges⋈ranks equi-join (both sides
    keyed on the node id) + one grouped sum; the loop state is one row
    per graph NODE (pair-graph-sized, never corpus-sized), re-planned
    from a localCheckpoint each round like `doc_bpe_train`'s loop.
    Dangling mass note: nodes in this graph have degree ≥ 1 by
    construction (they come from pairs), so no dangling redistribution
    is needed.
    """
    pairs = doc_minhash_lsh_pairs(spark, sf_dir).localCheckpoint()
    # Size-guarded driver path (the graph.py union-find rule): the
    # fixed-point arithmetic is INTEGER-exact — (85·pr) div (100·deg)
    # per edge, summed, + base — so a vectorized numpy loop over a
    # bounded Arrow collect returns bit-identical ranks while the
    # distributed loop costs ~3 scheduled jobs per iteration of pure
    # scheduler wall on a small pair graph. Above the guard the
    # per-round join+agg loop below runs unchanged (pair graphs at
    # 100 TB are far past any driver bound). Equality pinned by
    # test_pagerank_driver_path_matches_distributed.
    n_pairs = pairs.count()
    if 2 * n_pairs <= PR_DRIVER_MAX_EDGES:
        import numpy as np

        pdf = pairs.toPandas()
        out_schema = "node long, pr_nano long, n_iters long"
        if n_pairs == 0:
            return spark.createDataFrame([], out_schema)
        da = pdf["da"].to_numpy(np.int64)
        db = pdf["db"].to_numpy(np.int64)
        src = np.concatenate([da, db])
        dst = np.concatenate([db, da])
        node_ids, src_idx = np.unique(src, return_inverse=True)
        n = len(node_ids)
        dst_idx = np.searchsorted(node_ids, dst)
        deg = np.bincount(src_idx, minlength=n).astype(np.int64)
        pr = np.full(n, PR_SCALE // n, dtype=np.int64)
        b = (15 * PR_SCALE) // (100 * n)
        for _ in range(PR_ITERS):
            contrib = (85 * pr[src_idx]) // (100 * deg[src_idx])
            inflow = np.zeros(n, dtype=np.int64)
            np.add.at(inflow, dst_idx, contrib)
            pr = b + inflow
        return spark.createDataFrame(
            [
                (int(node_ids[i]), int(pr[i]), PR_ITERS)
                for i in range(n)
            ],
            out_schema,
        )
    edges = pairs.select(
        F.col("da").alias("s"), F.col("db").alias("d")
    ).unionByName(
        pairs.select(F.col("db").alias("s"), F.col("da").alias("d"))
    ).localCheckpoint()
    nodes = edges.select(F.col("s").alias("node")).distinct().localCheckpoint()
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("pr_nano"),
            F.lit(PR_ITERS).cast("long").alias("n_iters"),
        )
    # degree is loop-invariant: attach it to the edges ONCE so each
    # iteration is a single edges⋈ranks join + grouped sum (was two
    # joins per round — 5 joins saved across the loop)
    edges_deg = (
        edges.join(
            edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg")), "s"
        ).localCheckpoint()
    )
    base = (15 * PR_SCALE) // (100 * n_nodes)
    pr = nodes.withColumn(
        "pr", F.lit(PR_SCALE // n_nodes).cast("long")
    ).localCheckpoint()
    for _ in range(PR_ITERS):
        contrib = (
            edges_deg.join(pr, edges_deg["s"] == pr["node"])
            .select(
                F.col("d").alias("node"),
                F.expr("(85 * pr) div (100 * deg)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        pr = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base) + F.coalesce(F.col("inflow"), F.lit(0))
                ).cast("long").alias("pr"),
            )
            .localCheckpoint()
        )
    return pr.select(
        "node",
        F.col("pr").alias("pr_nano"),
        F.lit(PR_ITERS).cast("long").alias("n_iters"),
    )


def doc_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pair graph —
    the operator a dedup pipeline actually ENDS with: every document
    mapped to its cluster's canonical id (min doc_id in the component;
    singletons map to themselves).

    Min-label propagation: each round every node takes the min of its
    own label and its neighbors' labels; converges in O(component
    diameter) rounds, and near-dup components are near-cliques, so 2-4
    rounds in practice. The loop lives in
    ``operators/graph.py::min_label_components`` (shared with the
    embedding twin ``emb_neardup_clusters``); it iterates ONLY over
    nodes that have an edge, so every loop table is ∝ the near-dup pair
    graph, not the corpus — the corpus-sized table is touched exactly
    once, at the end. No SQL oracle could express the loop — but
    DuckDB's recursive CTE can, so this stays a fully hash-checked
    catalog entry."""
    from kafka_flink_harshevents_spark.operators.graph import min_label_components

    pairs = doc_minhash_lsh_pairs(spark, sf_dir).select("da", "db")
    labels = min_label_components(pairs, "da", "db").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        # no broadcast hint: the label table is ∝ docs-with-near-dups,
        # unbounded at corpus scale — AQE converts to broadcast when small
        .join(labels.withColumnRenamed("doc_id", "nid"),
              F.col("doc_id") == F.col("nid"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )


def doc_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pipeline observability: the one-row summary a corpus run
    publishes — total docs, distinct texts, exact-dup docs, near-dup
    pairs/members/clusters, clean survivors and the retention ratio.
    Every count is an exact integer (hash-stable by construction); the
    single ratio is one float division rounded at emit.

    Composition reuses ONE evaluation of each stage: the LSH pair
    graph is localCheckpoint-ed and feeds both the pair count and the
    connected-components labeling; every per-doc count then folds into
    ONE enriched corpus pass — the exact-dup canonical rides a window
    over text_hash, the cluster id rides the (near-dup-graph-sized)
    label join, and the quality bucket is a pure projection of the
    same rows (`quality_columns`), so the quality join disappears —
    plus a 1-row broadcast join for the pair count (guide §1.2/§2.4;
    the previous spelling ran four aggregation branches that each
    re-derived the corpus projection from a fresh scan).
    """
    from kafka_flink_harshevents_spark.operators.graph import min_label_components

    _, bucket = quality_columns()
    d = spread(load(spark, sf_dir, "documents")).select(
        "doc_id",
        F.md5("text").alias("text_hash"),
        bucket.alias("quality_bucket"),
    )
    pairs = (
        doc_minhash_lsh_pairs(spark, sf_dir).select("da", "db").localCheckpoint()
    )
    labels = min_label_components(pairs, "da", "db").select(
        F.col("node").alias("nid"), F.col("component").alias("cid")
    )
    member = F.col("doc_id") != F.col("cluster_id")
    clean = (
        (F.col("doc_id") == F.col("canonical_doc_id"))
        & ~member
        & (F.col("quality_bucket") != "low")
    )
    stats = (
        d.withColumn(
            "canonical_doc_id",
            F.min("doc_id").over(Window.partitionBy("text_hash")),
        )
        .join(labels, F.col("doc_id") == F.col("nid"), "left")
        .select(
            "doc_id",
            "text_hash",
            "canonical_doc_id",
            "quality_bucket",
            F.coalesce("cid", "doc_id").alias("cluster_id"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("text_hash").cast("long").alias("n_unique_texts"),
            F.count(F.when(member, True)).cast("long").alias(
                "n_neardup_member_docs"
            ),
            F.count_distinct(F.when(member, F.col("cluster_id")))
            .cast("long")
            .alias("n_neardup_clusters"),
            F.count(F.when(clean, True)).cast("long").alias("n_clean_docs"),
        )
    )
    n_pairs = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_neardup_pairs"))
    return (
        stats.join(F.broadcast(n_pairs))
        .select(
            "n_docs",
            "n_unique_texts",
            (F.col("n_docs") - F.col("n_unique_texts")).alias("n_exact_dup_docs"),
            "n_neardup_pairs",
            "n_neardup_member_docs",
            "n_neardup_clusters",
            "n_clean_docs",
            # ANSI-safe on an empty corpus
            F.when(
                F.col("n_docs") > 0,
                F.round(F.col("n_clean_docs") / F.col("n_docs"), 4),
            ).alias("retention"),
        )
    )


def _dedup_report_sql() -> str:
    return f"""
        WITH RECURSIVE {_clusters_ctes()},
        d AS (SELECT doc_id, md5(text) AS text_hash FROM documents),
        ex AS (SELECT text_hash, min(doc_id) AS canonical_doc_id
               FROM d GROUP BY 1),
        members AS (SELECT doc_id, cluster_id FROM clusters
                    WHERE doc_id <> cluster_id),
        qw AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique,
                   CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_SQL_STOPSET}))) AS BIGINT) AS n_stop
            FROM documents
        ),
        q AS (
            SELECT doc_id,
                   CASE WHEN 0.4 * least(n_tokens / 100.0, 1.0)
                           + 0.3 * (n_unique * 1.0 / n_tokens)
                           + 0.3 * (1.0 - n_stop * 1.0 / n_tokens) >= 0.5
                        THEN 'ok' ELSE 'low' END AS quality_bucket
            FROM qw
        ),
        clean AS (
            SELECT d.doc_id
            FROM d
            JOIN ex USING (text_hash)
            JOIN clusters c ON d.doc_id = c.doc_id
            JOIN q ON d.doc_id = q.doc_id
            WHERE d.doc_id = ex.canonical_doc_id
              AND d.doc_id = c.cluster_id
              AND q.quality_bucket <> 'low'
        )
        SELECT (SELECT count(*) FROM d) AS n_docs,
               (SELECT count(DISTINCT text_hash) FROM d) AS n_unique_texts,
               (SELECT count(*) FROM d)
                 - (SELECT count(DISTINCT text_hash) FROM d) AS n_exact_dup_docs,
               (SELECT count(*) FROM pairs) AS n_neardup_pairs,
               (SELECT count(*) FROM members) AS n_neardup_member_docs,
               (SELECT count(DISTINCT cluster_id) FROM members)
                   AS n_neardup_clusters,
               (SELECT count(*) FROM clean) AS n_clean_docs,
               CASE WHEN (SELECT count(*) FROM d) > 0
                    THEN round((SELECT count(*) FROM clean) * 1.0
                               / (SELECT count(*) FROM d), 4) END AS retention
    """


WINNOW_K = 3  # word k-grams
WINNOW_W = 4  # winnowing window (consecutive k-gram hashes)


def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD
    2003 — the MOSS algorithm): hash every word 3-gram, slide a
    4-window over the hash sequence, keep each window's minimum
    (rightmost on ties), dedupe. Guarantees a match of ≥ w+k-1
    contiguous tokens between two docs shares a fingerprint — the
    local, position-robust alternative to whole-doc hashing
    (`doc_fingerprint`) and fixed shingling (`doc_minhash_lsh_pairs`).

    Entirely scan-local: k-gram hashing, the windowed rightmost-argmin
    (one ``aggregate`` fold per window over the zipped (hash, pos)
    array) and dedup all run inside array higher-order functions —
    zero shuffle, a pure map stage at any scale. Hashes are md5 hex
    (portable; lexicographic min, exactly like the MinHash signatures).

    The (hash, pos) array is materialized ONCE per doc as its own
    projection (``zs``) and each window slices it — inlining it in the
    per-window lambda makes Catalyst re-evaluate every md5 for every
    window, an O(n²) blowup that measured 8.5 s at sf0.1 vs ~1 s
    hoisted.
    """
    d = _words(load(spark, sf_dir, "documents")).filter(
        F.size("ws") >= WINNOW_K + WINNOW_W - 1
    )
    zs = F.expr(
        f"""
        zip_with(
            transform(sequence(0, size(ws) - {WINNOW_K}),
                      i -> md5(concat_ws(' ', slice(ws, i + 1, {WINNOW_K})))),
            sequence(0, size(ws) - {WINNOW_K}),
            (h, p) -> struct(h AS h, p AS p))
        """
    )
    sel = F.expr(
        f"""
        array_distinct(transform(
            sequence(1, size(zs) - {WINNOW_W} + 1),
            j -> aggregate(
                slice(zs, j, {WINNOW_W}),
                struct(CAST(NULL AS STRING) AS h, -1 AS p),
                (acc, x) -> IF(acc.h IS NULL OR x.h <= acc.h, x, acc))))
        """
    )
    return (
        d.select("doc_id", zs.alias("zs"))
        .select("doc_id", F.explode(sel).alias("f"))
        .select(
            "doc_id",
            F.col("f.p").cast("long").alias("pos"),
            F.col("f.h").alias("fp"),
        )
    )


def _winnowing_sql() -> str:
    k, w = WINNOW_K, WINNOW_W
    return f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents
            WHERE len(string_split(text, ' ')) >= {k + w - 1}
        ),
        z AS (
            SELECT doc_id,
                   list_transform(range(1, len(ws) - {k} + 2),
                       i -> {{'h': md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
                              'p': i - 1}}) AS zs
            FROM d
        ),
        sel AS (
            SELECT doc_id,
                   list_transform(range(1, len(zs) - {w} + 2),
                       j -> list_reduce(zs[j:j+{w - 1}],
                           (acc, x) -> CASE WHEN x.h <= acc.h
                                            THEN x ELSE acc END)) AS fps
            FROM z
        )
        -- row-level DISTINCT ≡ Spark's per-doc array_distinct on the
        -- selected (pos, hash) structs (DuckDB lacks struct list_distinct)
        SELECT DISTINCT doc_id, CAST(f.p AS BIGINT) AS pos, f.h AS fp
        FROM (SELECT doc_id, unnest(fps) AS f FROM sel)
    """


SPLIT_TRAIN, SPLIT_VAL = 0.8, 0.9  # cumulative cutoffs; rest = test


def doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split decision hashes
    the near-dup CLUSTER canonical id, not the doc id, so every member
    of a near-duplicate cluster lands in the same split — the guard
    that keeps eval contamination out when the corpus still contains
    near-dups (assigning by doc_id silently leaks train text into val).

    Deterministic md5 uniform (pure function of the canonical id —
    stable under retries, re-partitions and engine swaps); the split is
    a scan-local expression on top of the cluster labels, so the only
    wide work is the clustering itself, shared with
    ``doc_neardup_clusters``.
    """
    clusters = doc_neardup_clusters(spark, sf_dir)
    u = _md5_unit(F.col("cluster_id"), "split|")
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.when(u < SPLIT_TRAIN, F.lit("train"))
        .when(u < SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def _split_assign_sql() -> str:
    u = _md5_unit_sql("cluster_id", "split|")
    return f"""
        WITH RECURSIVE {_clusters_ctes()}
        SELECT doc_id, cluster_id,
               CASE WHEN {u} < {SPLIT_TRAIN} THEN 'train'
                    WHEN {u} < {SPLIT_VAL} THEN 'val'
                    ELSE 'test' END AS split
        FROM clusters
    """


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
# Fixed retrieval workload over the corpus vocabulary; real deployments
# bind user queries here. Robertson/Spärck Jones idf with the Lucene +1
# smoothing (ln(1 + (N - df + 0.5)/(df + 0.5))), so idf is never negative.
BM25_QUERIES = (
    ("q1", ("hash", "join")),
    ("q2", ("scan", "filter", "column")),
    ("q3", ("stream", "window", "batch")),
)


def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text retrieval: BM25 top-k documents per query — the lexical
    half of a retrieval/dedup stack (the dense half is ``emb_knn_*``).

    Shape: the token stream is joined to the tiny query-term table
    FIRST (broadcast), so term frequencies, document frequencies and
    scores are computed only for query-vocabulary terms — the shuffle
    is ∝ matching tokens, never the corpus token stream. Corpus stats
    (N, avgdl) are a 1-row broadcast; dl joins on doc_id. Top-k per
    query partitions the Window on query_id over the already-scored
    (query, doc) table (∝ matches), with a doc_id tie-break for a
    total order.

    Determinism: per-(query,doc) scores sum per-term hi/lo 1e-9
    quantizations (combine-order exact); ranking and emission use the
    once-rounded double, ties broken on doc_id.
    """
    d = _words(load(spark, sf_dir, "documents"))
    stats = d.select("doc_id", F.size("ws").cast("long").alias("dl"))
    corpus = stats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") * 1.0 / F.count(F.lit(1))).alias("avgdl"),
    )
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES for t in ts],
        "query_id string, term string",
    )
    tf = (
        d.select("doc_id", F.explode("ws").alias("term"))
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", "term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_t = (
        tf.select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(stats, "doc_id")
        .join(F.broadcast(corpus))
        .groupBy("query_id", "doc_id")
        .agg(
            # exact hi/lo long total of the per-term score quantized at
            # 1e-9 (per-row long codegen, not BigDecimal partials)
            _hilo_total(_quantize(idf * tf_norm, 9)).alias("s"),
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        )
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("s").cast("double") / 1e9, 4).alias("bm25"),
            "n_terms_matched",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= BM25_TOPK)
        .select("query_id", "doc_id", "bm25", "n_terms_matched", "rk")
    )


def _bm25_sql() -> str:
    vals = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in BM25_QUERIES for t in ts
    )
    return f"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        stats AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM w),
        corpus AS (SELECT count(*) AS n_docs,
                          sum(dl) * 1.0 / count(*) AS avgdl FROM stats),
        q(query_id, term) AS (VALUES {vals}),
        tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
        tf AS (
            SELECT query_id, q.term, doc_id, count(*) AS tf
            FROM tok JOIN q ON tok.term = q.term
            GROUP BY 1, 2, 3
        ),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        scored AS (
            SELECT query_id, tf.doc_id,
                   round(CAST({_hilo_total_sql(
                       f"ln(1 + (n_docs - df.df + 0.5) / (df.df + 0.5))"
                       f" * (tf * ({BM25_K1} + 1))"
                       f" / (tf + {BM25_K1} * (1 - {BM25_B}"
                       f" + {BM25_B} * dl / avgdl))", 9)}
                   AS DOUBLE) / 1000000000.0, 4) AS bm25,
                   CAST(count(*) AS BIGINT) AS n_terms_matched
            FROM tf
            JOIN df USING (term)
            JOIN stats ON tf.doc_id = stats.doc_id
            CROSS JOIN corpus
            GROUP BY 1, 2
        )
        SELECT query_id, doc_id, bm25, n_terms_matched, CAST(rk AS BIGINT) AS rk
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rk
              FROM scored)
        WHERE rk <= {BM25_TOPK}
    """


def doc_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level edit-distance scoring of the MinHash-LSH
    near-dup pairs — the second verification metric a dedup pipeline
    layers on when shingle Jaccard alone over-merges (boilerplate-heavy
    corpora share shingles but differ char-wise).

    Levenshtein is O(|a|·|b|) per pair, which is exactly why it runs
    only on the LSH-verified pair set (∝ near-dups, not corpus²): the
    quadratic kernel is bounded by candidate generation, never applied
    all-pairs. JVM-side ``levenshtein`` expression — no Python in the
    loop; per-row arithmetic only, so no float-determinism hazard.
    """
    pairs = doc_minhash_lsh_pairs(spark, sf_dir)
    texts = load(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("tlen")
    )
    lev = F.levenshtein(F.col("ta.text"), F.col("tb.text"))
    return (
        pairs.join(texts.alias("ta"), F.col("da") == F.col("ta.doc_id"))
        .join(texts.alias("tb"), F.col("db") == F.col("tb.doc_id"))
        .select(
            "da",
            "db",
            "jaccard",
            lev.cast("long").alias("edit_distance"),
            F.round(
                1 - lev / F.greatest(F.col("ta.tlen"), F.col("tb.tlen")), 4
            ).alias("edit_similarity"),
        )
    )


def doc_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed cleaning pipeline a pretraining corpus goes through,
    as ONE catalog entry: exact-dedup canonical ∩ near-dup cluster
    canonical ∩ quality floor. Survivors carry their quality score and
    cluster id, so downstream sampling can weight by either.

    Plan shape: ONE corpus projection carries the content hash AND the
    quality battery (both pure per-row functions of text — the separate
    quality scan + doc_id join this replaces moved the whole corpus
    through an extra exchange); the exact-dedup canonical is a window
    over text_hash (one exchange, vs aggregate + join-back re-shuffling
    the same scan twice); the cluster side joins the converged label
    table. Every predicate is engine-checkable — the whole composite
    hash-matches a single DuckDB statement."""
    score, bucket = quality_columns()
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("text_hash"),
        round_score(score).alias("quality_score"),
        bucket.alias("quality_bucket"),
    )
    canon = F.min("doc_id").over(Window.partitionBy("text_hash"))
    cl = doc_neardup_clusters(spark, sf_dir)
    return (
        d.withColumn("canonical_doc_id", canon)
        .filter(F.col("doc_id") == F.col("canonical_doc_id"))
        .join(cl, "doc_id")
        .filter(F.col("doc_id") == F.col("cluster_id"))
        .filter(F.col("quality_bucket") != "low")
        .select("doc_id", "quality_score", "quality_bucket", "cluster_id")
    )


def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over the token multiset: per-token md5 nibbles →
    ±1 votes per bit → sign → fingerprint. Explode + one groupBy on
    doc_id (co-partitioned with the source) — linear in corpus size."""
    d = spread(load(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    # materialize the hash and the 4 nibble values BEFORE the aggregate:
    # children of separate aggregate expressions don't share common
    # subexpressions, so referencing md5(t) inside all 16 sums would
    # compute 16 md5s per token — projected once, it's 1 md5 + 4 decodes.
    h = F.md5("t")
    nib = tok.select(
        "doc_id",
        *[_nibble_val(F.substring(h, c + 1, 1)).alias(f"v{c}") for c in range(4)],
    )
    vote_cols = []
    for j in range(16):
        c, b = j // 4, 3 - (j % 4)  # char index 0..3, bit within nibble
        bit = F.floor(F.col(f"v{c}") / (2**b)).cast("long") % 2
        vote_cols.append(F.sum(bit * 2 - 1).alias(f"s{j}"))
    votes = nib.groupBy("doc_id").agg(*vote_cols)
    fp = None
    for j in range(16):
        term = F.when(F.col(f"s{j}") > 0, F.lit(2 ** (15 - j))).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.cast("long").alias("simhash"))


SAMPLE_RATES = {"high": 1.0, "medium": 0.5, "low": 0.125}
PACK_CAP = 512  # context-window token budget per packed sequence
PACK_SHARDS = 16


def doc_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: per-quality-bucket sampling at fixed rates
    (high 1.0 / medium 0.5 / low 0.125) with a DETERMINISTIC hash
    uniform — the sampling decision is a pure function of doc_id, so
    retries, re-partitions, and re-runs keep the same corpus (F.rand
    would not; see sources/synthetic.py::_u for the same rule).
    Scan-local: no shuffle at all — the filter rides the parquet scan.
    """
    d = doc_quality_score(spark, sf_dir).select("doc_id", "quality_bucket")
    u = _md5_unit(F.col("doc_id"), "samp|")
    rate = (
        F.when(F.col("quality_bucket") == "high", F.lit(SAMPLE_RATES["high"]))
        .when(F.col("quality_bucket") == "medium", F.lit(SAMPLE_RATES["medium"]))
        .otherwise(F.lit(SAMPLE_RATES["low"]))
    )
    return (
        d.withColumn("sample_u", F.round(u, 6))
        .filter(u < rate)
        .select("doc_id", "quality_bucket", "sample_u")
    )


def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, GPT-style: concatenate documents into a token
    stream and cut every PACK_CAP tokens. Distributed form: docs shard
    by ``doc_id % PACK_SHARDS`` (shard count scales with the cluster),
    each shard computes token offsets with ONE window cumsum, and a
    doc's packed position is its offset's bin. Emits per doc: shard,
    start offset, first/last bin — everything a downstream tokenizer
    needs to materialize the packed sequences shard-parallel.
    """
    d = _words(load(spark, sf_dir, "documents")).select(
        "doc_id",
        F.size("ws").cast("long").alias("n_tokens"),
        (F.col("doc_id") % PACK_SHARDS).cast("long").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return d.select(
        "doc_id",
        "shard",
        "n_tokens",
        (cum - F.col("n_tokens")).alias("start_offset"),
        F.floor((cum - F.col("n_tokens")) / PACK_CAP).cast("long").alias("first_bin"),
        F.floor((cum - 1) / PACK_CAP).cast("long").alias("last_bin"),
    )


def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per doc (ln(n) − Σc·ln(c)/n) —
    the standard repetition/degeneracy signal (boilerplate and
    copy-paste spam score low). explode → (doc, term) count → one
    per-doc aggregate; shuffle keys on doc_id, ∝ corpus."""
    d = _words(load(spark, sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode("ws").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    return tf.groupBy("doc_id").agg(
        n.cast("long").alias("n_tokens"),
        F.round(F.log(n) - F.sum(F.col("c") * F.log("c")) / n, 6).alias(
            "token_entropy"
        ),
    )


N_EVAL_DOCS = 5  # docs 0..4 stand in for the held-out eval set
DECON_NGRAM = 5  # contamination n-gram length


def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    5-gram with the eval set (docs 0..4 stand in for a held-out
    benchmark). The eval n-gram set is small by construction — distinct
    5-grams of the benchmark — so the containment check is a BROADCAST
    semi-ish join against the exploded corpus stream: scan-local, no
    corpus-wide shuffle; only the per-doc hit counts aggregate.
    """
    d = _words(load(spark, sf_dir, "documents")).filter(
        F.size("ws") >= DECON_NGRAM
    )
    gram = F.expr(
        "transform(sequence(0, size(ws) - {n}), i -> "
        "concat({parts}))".format(
            n=DECON_NGRAM,
            parts=", ' ', ".join(f"ws[i + {k}]" for k in range(DECON_NGRAM)),
        )
    )
    grams = d.select("doc_id", F.explode(F.array_distinct(gram)).alias("g"))
    eval_grams = (
        grams.filter(F.col("doc_id") < N_EVAL_DOCS).select("g").distinct()
    )
    hits = (
        grams.filter(F.col("doc_id") >= N_EVAL_DOCS)
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    corpus = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") >= N_EVAL_DOCS)
    )
    return corpus.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).cast("long").alias("contaminated"),
    )


SIMHASH_PAIR_BITS = 60  # 15 md5 nibbles — stays inside a signed long
SIMHASH_PAIR_BLOCKS = 4  # pigeonhole: d(a,b) <= 3 => >= 1 identical block
SIMHASH_MAX_HAMMING = 3


def doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS via pigeonhole blocking (Manku et al.'s
    simhash-dedup scheme): a 60-bit fingerprint split into 4 disjoint
    15-bit blocks — any pair within Hamming distance 3 shares at least
    one identical block, so candidate generation is an equi-join on
    (block_idx, block_value) with EXACT recall, and verification is one
    xor-popcount per candidate.

    Same bucket-collect shape as the MinHash path: groupBy on the block
    key evaluates the fingerprint pipeline ONCE and emits each bucket's
    ordered pairs array-locally (no self-join re-evaluation). Block
    extraction uses shifts/masks, not division — long fingerprints don't
    survive double-precision division. Shuffle ∝ colliding docs; the
    16-bit `doc_simhash` stays as the compact per-doc fingerprint.
    """
    d = spread(load(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    h = F.md5("t")
    n_nib = SIMHASH_PAIR_BITS // 4
    nib = tok.select(
        "doc_id",
        *[_nibble_val(F.substring(h, c + 1, 1)).alias(f"v{c}") for c in range(n_nib)],
    )
    vote_cols = []
    for j in range(SIMHASH_PAIR_BITS):
        c, b = j // 4, 3 - (j % 4)
        bit = F.shiftright(F.col(f"v{c}").cast("long"), b).bitwiseAND(F.lit(1))
        vote_cols.append(F.sum(bit * 2 - 1).alias(f"s{j}"))
    votes = nib.groupBy("doc_id").agg(*vote_cols)
    fp = None
    for j in range(SIMHASH_PAIR_BITS):
        term = F.when(
            F.col(f"s{j}") > 0, F.lit(2 ** (SIMHASH_PAIR_BITS - 1 - j))
        ).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    fps = votes.select("doc_id", fp.cast("long").alias("fp"))
    from kafka_flink_harshevents_spark.operators.pigeonhole import pigeonhole_pairs

    return pigeonhole_pairs(
        fps,
        id_col="doc_id",
        fp_col="fp",
        bits=SIMHASH_PAIR_BITS,
        n_blocks=SIMHASH_PAIR_BLOCKS,
        max_hamming=SIMHASH_MAX_HAMMING,
    )


# PII patterns restricted to syntax both Java regex (Spark) and RE2
# (DuckDB) treat identically: character classes, bounded repetition, \b.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE_RE = r"\+?[0-9][0-9() -]{7,}[0-9]"


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per doc (Rae et al. 2021 §A1.1):
    the fraction of bigram occurrences taken by the single most frequent
    bigram, and the fraction of trigram occurrences that are repeats —
    the two strongest boilerplate/degenerate-text filters in published
    LLM-data pipelines.

    Plan shape: ENTIRELY scan-local — zero shuffle. The per-doc top
    bigram is a longest-run scan over the SORTED bigram array (one
    ``aggregate`` fold: run counter + best-so-far), replacing the
    explode → groupBy(doc_id, bigram) → per-doc window of the naive
    plan; ties break to the lexicographically smallest bigram (the
    sorted order visits candidates ascending and strict ``>`` keeps the
    first), matching the oracle's ``ORDER BY c DESC, bg``. Per-doc cost
    is O(n log n) in doc words — docs are bounded (chunking runs
    upstream at 100 TB), so this is the cheapest correct form.
    """
    d = _words(load(spark, sf_dir, "documents")).filter(F.size("ws") >= 3)
    new_run = (
        "CASE WHEN a.prev IS NOT NULL AND x = a.prev THEN a.run + 1 ELSE 1 END"
    )
    top = F.expr(
        f"""aggregate(
            array_sort({bigrams_sql()}),
            named_struct('prev', cast(null as string), 'run', 0,
                         'best_c', 0, 'best_bg', cast(null as string)),
            (a, x) -> named_struct(
                'prev', x,
                'run', {new_run},
                'best_c', CASE WHEN {new_run} > a.best_c
                               THEN {new_run} ELSE a.best_c END,
                'best_bg', CASE WHEN {new_run} > a.best_c
                                THEN x ELSE a.best_bg END),
            a -> named_struct('c', a.best_c, 'bg', a.best_bg))"""
    )
    return d.select(
        "doc_id",
        top.alias("t"),
        (F.size("ws") - 1).alias("n_bi"),
        F.expr(
            "transform(sequence(0, size(ws) - 3), "
            "i -> concat(ws[i], ' ', ws[i + 1], ' ', ws[i + 2]))"
        ).alias("tri"),
    ).select(
        "doc_id",
        F.col("t.bg").alias("top_bigram"),
        F.round(F.col("t.c") / F.col("n_bi"), 4).alias("top_bigram_ratio"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("tri")) / F.size("tri"), 4
        ).alias("dup_trigram_ratio"),
    )


def _spans(d: DataFrame) -> DataFrame:
    """(doc_id, ws) → exploded non-overlapping SPAN_WORDS-word chunks
    (doc_id, chunk_idx, ch); the tail partial chunk is kept."""
    return d.select(
        "doc_id",
        F.posexplode(F.expr(spans_sql())).alias("chunk_idx", "ch"),
    )


def doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-corpus span dedup (Raffel et al. 2020 §2.2 adapted
    to word spans): split every doc into non-overlapping SPAN_WORDS-word
    chunks; a chunk occurrence survives only if it is the corpus-global
    FIRST occurrence (min (doc_id, chunk_idx)) of that exact span.
    Emits per doc: chunk counts and the cleaned text rebuilt from the
    surviving spans.

    Skew-proof winner selection: the global first occurrence per span is
    ``groupBy(span).agg(min(struct(doc_id, chunk_idx)))`` — a partial
    (map-side) aggregate, so a span repeated 10M times collapses to one
    row per map partition BEFORE the shuffle; no hot-key window, no
    row_number over a mega-partition. Per-doc reassembly then keys on
    doc_id only (bounded groups).
    """
    d = _words(load(spark, sf_dir, "documents"))
    chunks = _spans(d)
    winners = (
        chunks.groupBy("ch")
        .agg(F.min(F.struct("doc_id", "chunk_idx")).alias("w"))
        .select(F.col("w.doc_id").alias("doc_id"), F.col("w.chunk_idx").alias("chunk_idx"), "ch")
    )
    kept = winners.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "ch"))),
                lambda s: s["ch"],
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = d.select(
        "doc_id",
        F.ceil(F.size("ws") / SPAN_WORDS).cast("long").alias("n_chunks"),
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        (F.col("n_chunks") - F.coalesce("n_kept", F.lit(0))).cast("long").alias("n_removed"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def pii_counts(text: Column) -> list[Column]:
    """Reusable PII-signal columns (counts of email / IPv4 / phone-shaped
    matches) — regexp_count runs JVM-side inside codegen; no UDF."""
    return [
        F.regexp_count(text, F.lit(PII_EMAIL_RE)).cast("long").alias("n_email"),
        F.regexp_count(text, F.lit(PII_IPV4_RE)).cast("long").alias("n_ipv4"),
        F.regexp_count(text, F.lit(PII_PHONE_RE)).cast("long").alias("n_phone"),
    ]


def pii_redact(text: Column) -> Column:
    """PII remediation — the transform half of the release gate
    (`doc_pii_scan` detects, this redacts): email / IPv4 / phone-shaped
    substrings replaced with typed placeholders, JVM-side
    ``regexp_replace`` chain inside codegen (no UDF, scan-local at any
    corpus size). Order matters: IPv4 before phone so a dotted quad is
    never half-eaten by the phone pattern; placeholders are
    non-matching tokens so redaction is idempotent. NOT a catalog
    entry: the synthetic corpus is PII-free, so a driver row would be
    vacuously green (the `mm_phash_pairs` lesson) — the operator is
    exercised on adversarial fixtures in tests/test_documents_ops.py.
    """
    out = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4_RE, "<IP>")
    out = F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")
    return out


def doc_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII exposure rollup per source: documents carrying email / IPv4 /
    phone-shaped substrings (the release-gate scan every training-data
    pipeline runs before shipping a corpus). Scan-local regexp counts →
    one tiny groupBy(source); the synthetic corpus is PII-free so every
    count is zero HERE — the operator itself is exercised on adversarial
    fixtures in tests/test_documents_ops.py.
    """
    d = spread(load(spark, sf_dir, "documents")).select("doc_id", "source", *pii_counts(F.col("text")))
    flagged = (F.col("n_email") + F.col("n_ipv4") + F.col("n_phone")) > 0
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_email").cast("long").alias("n_email"),
        F.sum("n_ipv4").cast("long").alias("n_ipv4"),
        F.sum("n_phone").cast("long").alias("n_phone"),
        F.sum(flagged.cast("long")).cast("long").alias("n_flagged"),
    )


BATCH_FRACTION = 0.1  # hash-split: ~10% of the corpus plays the "new batch"


def doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a NEW batch of documents (deterministic
    md5 hash-split, ~10% of the corpus) deduplicated against the
    HISTORICAL corpus (the other 90%) — the shape every continuously
    crawled training corpus needs: never re-dedup the whole corpus,
    only batch-vs-history.

    Two checks per batch doc, both LEFT-SEMI joins (Spark prunes the
    build side to the join key — no payload movement):
    - exact: md5(text) present in history;
    - span containment: shares ≥ 1 full SPAN_WORDS-word span with any
      historical doc (C4-style containment, catches quote/boilerplate
      copies that exact hash misses).
    At 100 TB the history side of both joins is keys-only (16-byte
    hashes / span strings), and the batch side is ~1% of the corpus, so
    the shuffle is batch-sized, not corpus-sized.
    """
    d = spread(load(spark, sf_dir, "documents"))
    u = _md5_unit(F.col("doc_id"), "batch|")
    batch = d.filter(u < BATCH_FRACTION)
    hist = d.filter(u >= BATCH_FRACTION)

    bh = batch.select("doc_id", F.md5("text").alias("h"))
    hh = hist.select(F.md5("text").alias("h")).distinct()
    exact_ids = bh.join(hh, "h", "left_semi").select("doc_id").distinct()

    bs = _spans(_words(batch))
    hs = _spans(_words(hist)).select("ch").distinct()
    span_ids = bs.join(hs, "ch", "left_semi").select("doc_id").distinct()

    ex = exact_ids.withColumn("exact_dup", F.lit(1).cast("long"))
    sp = span_ids.withColumn("span_dup", F.lit(1).cast("long"))
    return (
        batch.select("doc_id")
        .join(ex, "doc_id", "left")
        .join(sp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_dup", F.lit(0)).cast("long").alias("exact_dup"),
            F.coalesce("span_dup", F.lit(0)).cast("long").alias("span_dup"),
            (F.coalesce("exact_dup", F.lit(0)) + F.coalesce("span_dup", F.lit(0)) == 0)
            .cast("long")
            .alias("keep"),
        )
    )


INGEST_MIN_QUALITY = 0.5  # corpus_ingest gate: quality-routing floor
# Batch sentinels: ids far outside the corpus range; the low-quality
# text scores ~0.09-0.39 under the shared battery — below the floor
# at any stopword interpretation
INGEST_SENTINEL_OFF = 1_000_000_000
INGEST_SENTINEL_MIN_WORDS = 30
INGEST_LOWQ_TEXT = "a a a a"


def _ingest_frames(spark: SparkSession, sf_dir: str):
    """(hist, batch) for the two corpus-ingest gates: the
    deterministic half-corpus subset split 90/10, plus THREE batch
    SENTINELS derived from the first long history doc — an exact
    copy, a one-word-prepended near-dup (every span chunk shifts, so
    it is a pure band-collision candidate whose exact Jaccard ≈
    (S)/(S+1) clears ``LSH_VERIFY_THRESHOLD``), and a constant
    low-quality doc. Without them, several gate columns (exact_dups,
    near_dups_verified, low_quality) are ZERO on the organic corpus
    at small SFs and the driver row confirms them vacuously — the
    ``mm_phash_pairs`` sentinel rule (VERDICT r03 item 6) applied to
    the ingest contract. The oracle derives the same three rows in
    SQL, so every count stays hash-checked."""
    d = spread(load(spark, sf_dir, "documents")).filter(
        _md5_unit(F.col("doc_id"), "ing|") < 0.5
    )
    u = _md5_unit(F.col("doc_id"), "batch|")
    ver = F.lit(1).cast("long").alias("ver")
    hist = d.filter(u >= BATCH_FRACTION).select("doc_id", "text", ver)
    # one bounded TakeOrdered collect for the seed doc; the three
    # sentinels become LITERAL rows. The declarative spelling embedded
    # the seed's global orderBy/limit subtree three times (once per
    # sentinel union branch), and every downstream evaluation of the
    # batch re-ran all of them — a 1-row collect + local rows is the
    # same data with zero recurring subtrees.
    seed_rows = (
        hist.filter(
            F.size(F.split("text", " ")) >= INGEST_SENTINEL_MIN_WORDS
        )
        .orderBy("doc_id")
        .limit(1)
        .select("doc_id", "text")
        .collect()
    )
    off = INGEST_SENTINEL_OFF
    sent_rows = []
    if seed_rows:
        r = seed_rows[0]
        sent_rows = [
            (int(r["doc_id"]) + off, r["text"], 1),
            (int(r["doc_id"]) + 2 * off, "zulu " + r["text"], 1),
            (int(r["doc_id"]) + 3 * off, INGEST_LOWQ_TEXT, 1),
        ]
    sent = spark.createDataFrame(
        sent_rows, "doc_id long, text string, ver long"
    )
    batch = (
        d.filter(u < BATCH_FRACTION)
        .select("doc_id", "text", ver)
        .unionByName(sent)
        # pin once: the fingerprint pin, the verdict join and (verify
        # mode) the shingle side all read this one materialization
        .localCheckpoint(eager=True)
    )
    return hist, batch


def doc_ingest_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-ingest recipe gate (plans/ingest.py): seed a
    transactional corpus + fingerprint store from the 90% history,
    ingest the 10% batch through :func:`corpus_ingest` (exact + span +
    MinHash-band checks against the STORE, quality routing, exactly-
    once txn markers), then REPLAY the same batch. The one-row contract
    is fully oracle-stated from the raw corpus: batch size, exact/span
    dup counts (the ``doc_incremental_dedup`` rule), the advisory
    MinHash band-collision count (the ``doc_minhash_lsh_pairs``
    banding), the quality-routed count, the kept count, the final
    corpus row count, and the replay-is-a-no-op boolean (versions
    unchanged on the second call) — so the whole loop, not just its
    pieces, is driver-checked."""
    from kafka_flink_harshevents_spark.plans.ingest import (
        corpus_ingest,
        create_fingerprint_table,
    )
    from kafka_flink_harshevents_spark.sources.txlog import TxTable

    # deterministic half-corpus subset (90/10 split) + the three
    # batch sentinels — see _ingest_frames: the gate runs TWO full
    # ingest programs (seed + batch) with two commits each; the
    # transaction semantics it checks are size-invariant (the k≤2000
    # lakehouse convention)
    hist, batch = _ingest_frames(spark, sf_dir)
    corpus = TxTable.create(
        spark,
        temp_dir(prefix="ing-c-"),
        key_cols=("doc_id",),
        order_col="ver",
        n_buckets=2,
    )
    fps = create_fingerprint_table(
        spark, temp_dir(prefix="ing-f-"), n_buckets=2
    )
    # seed by direct append (the documented replay pattern: history
    # fingerprints come from somewhere durable) — one commit per
    # table, skipping the dedup checks an empty store cannot fail;
    # the BATCH call below exercises the full recipe
    # the two seed appends hit DISJOINT tables with no ordering
    # contract between them — overlap the independent jobs (guide
    # §2.6) so the second append's stages back-fill the first's tail
    from concurrent.futures import ThreadPoolExecutor

    seed_fps = (
        doc_fingerprints(
            hist.select("doc_id", "text").withColumn("is_seed", F.lit(0))
        )
        .select("kind", "fp")
        .distinct()
        .withColumn("ver", F.lit(1).cast("long"))
    )
    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(corpus.append, hist)
        fb = pool.submit(fps.append, seed_fps)
        fa.result(), fb.result()
    txn = {"app_id": "ingest", "batch_id": 1}
    res = corpus_ingest(
        corpus, fps, batch, txn=txn, min_quality=INGEST_MIN_QUALITY
    )
    res2 = corpus_ingest(
        corpus, fps, batch, txn=txn, min_quality=INGEST_MIN_QUALITY
    )
    replay_noop = int(
        res2["replayed"]
        and corpus.latest_version() == res["corpus_version"]
        and fps.latest_version() == res["fingerprint_version"]
    )
    row = (
        res["docs_in"], res["exact_dups"], res["span_dups"],
        res["near_dups"], res["low_quality"], res["kept"],
        int(corpus.read().count()), replay_noop,
    )
    return spark.createDataFrame(
        [row],
        "docs_in long, exact_dups long, span_dups long, near_dups long, "
        "low_quality long, kept long, corpus_total long, "
        "replay_noop long",
    )


def doc_ingest_verify_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``near_dup_mode="verify"`` gate: the corpus-ingest recipe with
    the C4/CCNet-grade keep rule — MinHash band collisions against an
    ATTRIBUTED store are verified with exact shingle Jaccard
    (``LSH_VERIFY_THRESHOLD``, the ``doc_minhash_lsh_pairs`` ratio
    form) and verified near-dups are REJECTED. The one-row contract
    adds ``near_dups_verified`` to the dedup gate's columns, and the
    oracle states the verified set by re-deriving band candidates and
    their exact Jaccards in SQL — parity with running the batch dedup
    after the fact, which is exactly what verify mode replaces."""
    from kafka_flink_harshevents_spark.plans.ingest import (
        corpus_ingest,
        create_fingerprint_table,
    )
    from kafka_flink_harshevents_spark.sources.txlog import TxTable

    # the SAME deterministic subset + sentinels as the dedup gate
    # (_ingest_frames) — so this gate is literally that batch
    # re-ingested under the verify keep rule, and near_dups_verified
    # is the subset of its near_dups that exact Jaccard confirms
    # (≥1 at every SF via the prepended-word sentinel)
    hist, batch = _ingest_frames(spark, sf_dir)
    corpus = TxTable.create(
        spark,
        temp_dir(prefix="ingv-c-"),
        key_cols=("doc_id",),
        order_col="ver",
        n_buckets=2,
        # exercises the candidate-pruned stored-text fetch: verify
        # mode reads back colliding docs via read(isin=) and the
        # bloom makes the file skip hold under interleaved doc_ids
        bloom_cols=("doc_id",),
    )
    fps = create_fingerprint_table(
        spark, temp_dir(prefix="ingv-f-"), n_buckets=2,
        attributed=True,
    )
    # seed by direct append (the documented replay pattern), with doc
    # attribution — verify mode's candidate fetch needs it
    # overlap the two independent seed appends — the dedup gate's rule
    from concurrent.futures import ThreadPoolExecutor

    seed_fps = (
        doc_fingerprints(
            hist.select("doc_id", "text").withColumn("is_seed", F.lit(0))
        )
        .select("kind", "fp", F.col("doc_id").alias("doc"))
        .distinct()
        .withColumn("ver", F.lit(1).cast("long"))
    )
    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(corpus.append, hist)
        fb = pool.submit(fps.append, seed_fps)
        fa.result(), fb.result()
    txn = {"app_id": "ingest-v", "batch_id": 1}
    res = corpus_ingest(
        corpus, fps, batch, txn=txn, min_quality=INGEST_MIN_QUALITY,
        near_dup_mode="verify",
    )
    res2 = corpus_ingest(
        corpus, fps, batch, txn=txn, min_quality=INGEST_MIN_QUALITY,
        near_dup_mode="verify",
    )
    replay_noop = int(
        res2["replayed"]
        and corpus.latest_version() == res["corpus_version"]
        and fps.latest_version() == res["fingerprint_version"]
    )
    row = (
        res["docs_in"], res["exact_dups"], res["span_dups"],
        res["near_dups"], res["near_dups_verified"],
        res["low_quality"], res["kept"],
        int(corpus.read().count()), replay_noop,
    )
    return spark.createDataFrame(
        [row],
        "docs_in long, exact_dups long, span_dups long, "
        "near_dups long, near_dups_verified long, low_quality long, "
        "kept long, corpus_total long, replay_noop long",
    )


MIX_ALPHA = 0.5  # temperature exponent: p_s^alpha flattens the source skew
MIX_TARGET_FRACTION = 0.5  # sampled corpus ≈ half the docs


def doc_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the multilingual-corpus rule
    from mC4 / PaLM: sample source s ∝ p_s^α, α < 1 upweights the
    tail): per-source rates are derived from the corpus itself —
    q_s = p_s^α / Σ p_t^α, rate_s = min(1, q_s·target/n_s) — then docs
    are picked by the deterministic md5 uniform, so the mix is stable
    under retries and incremental re-runs.

    Plan: one tiny groupBy(source) count (20 rows), two 1-row broadcast
    cross-joins for the normalizers, one broadcast join back onto the
    scan, scan-local filter. Nothing corpus-wide shuffles.
    """
    d = spread(load(spark, sf_dir, "documents"))
    cnt = d.groupBy("source").agg(F.count(F.lit(1)).cast("double").alias("n_s"))
    tot = cnt.agg(F.sum("n_s").alias("n_total"))
    w = cnt.crossJoin(F.broadcast(tot)).select(
        "source", "n_s", "n_total", F.pow(F.col("n_s") / F.col("n_total"), MIX_ALPHA).alias("w")
    )
    z = w.agg(F.sum("w").alias("z"))
    rates = w.crossJoin(F.broadcast(z)).select(
        "source",
        F.least(
            F.lit(1.0),
            (F.col("w") / F.col("z")) * (F.col("n_total") * MIX_TARGET_FRACTION) / F.col("n_s"),
        ).alias("rate"),
    )
    u = _md5_unit(F.col("doc_id"), "mix|")
    return (
        d.join(F.broadcast(rates), "source")
        .filter(u < F.col("rate"))
        .select("doc_id", "source", F.round("rate", 6).alias("rate"))
    )


N_MANIFEST_SHARDS = 16


def doc_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export manifest for the sharded training-data layout
    (`sources/export.py::write_training_shards`): per (lang, shard)
    bucket — doc count, token/char totals, doc_id range. This is the
    sidecar file a data-loader reads to assign shards to workers without
    listing the object store.

    The manifest's shard mapping uses the md5-derived uniform (portable
    to the DuckDB oracle) while the writer uses xxhash64 (JVM-side,
    faster) — both are deterministic functions of doc_id; the manifest
    query exists to prove the AGGREGATION shape (scan-local shard
    derivation → one tiny groupBy), not to mirror the writer's exact
    hash. Scan-local until a |langs|x|shards|-row aggregate."""
    d = spread(load(spark, sf_dir, "documents"))
    shard = F.floor(_md5_unit(F.col("doc_id"), "shard|") * N_MANIFEST_SHARDS).cast("long")
    return (
        d.select(
            "doc_id",
            "lang",
            "n_chars",
            shard.alias("shard"),
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        .groupBy("lang", "shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


CONTAIN_DF_CAP = 64  # stop-shingle pruning: drop postings with df > cap
CONTAIN_THRESHOLD = 0.6


def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: n-gram containment
    C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| — catches quotes, excerpts and
    subset documents that symmetric Jaccard misses (a 50-word quote
    inside a 5000-word doc has tiny Jaccard but containment ≈ 1).
    Emits pairs where either direction ≥ CONTAIN_THRESHOLD.

    Plan: inverted-index self-equi-join on the shingle, with
    STOP-SHINGLE pruning (postings with df > CONTAIN_DF_CAP are dropped
    before the join — the standard bound that keeps per-shingle join
    fan-out ≤ df²; the df cap is part of the operator's definition and
    applied identically in the oracle). Shuffle ∝ Σ df² over surviving
    shingles — bounded by cap × postings, never all-pairs.
    """
    sh = _shingles(load(spark, sf_dir, "documents"))
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    keep = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= CONTAIN_DF_CAP)
        .select("s")
    )
    posting = sh.join(keep, "s")
    inter = (
        posting.alias("a")
        .join(
            posting.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = cnt.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    nb = cnt.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    return (
        inter.join(na, "da")
        .join(nb, "db")
        .select(
            "da",
            "db",
            F.round(F.col("inter") / F.col("na"), 4).alias("c_ab"),
            F.round(F.col("inter") / F.col("nb"), 4).alias("c_ba"),
        )
        .filter(
            (F.col("c_ab") >= CONTAIN_THRESHOLD)
            | (F.col("c_ba") >= CONTAIN_THRESHOLD)
        )
    )


CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (the RAG / embedding-prep
    primitive): each doc becomes ceil-strided chunks of CHUNK_TOKENS
    words advancing CHUNK_STRIDE at a time, so consecutive chunks share
    CHUNK_TOKENS − CHUNK_STRIDE words of context. Docs shorter than one
    chunk yield exactly one chunk.

    Plan: split → per-row sequence(0, n_chunks−1) explode → slice.
    Entirely scan-local (zero shuffle, no UDF): chunk count is derived
    arithmetically per row and `slice` runs on the already-split array.
    The expansion factor is ~len/stride (≤ 3 here), constant per row —
    the same narrow shape at 100 TB.
    """
    d = _words(load(spark, sf_dir, "documents"))
    n_chunks = F.lit(1) + F.greatest(
        F.lit(0),
        F.ceil((F.size("ws") - F.lit(CHUNK_TOKENS)) / F.lit(CHUNK_STRIDE)),
    )
    return (
        d.select(
            "doc_id",
            "ws",
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("ci"),
        )
        .select(
            "doc_id",
            F.col("ci").cast("long").alias("chunk_idx"),
            F.slice(
                "ws", F.col("ci") * CHUNK_STRIDE + 1, F.lit(CHUNK_TOKENS)
            ).alias("toks"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("toks").cast("long").alias("n_tokens"),
            F.array_join("toks", " ").alias("chunk_text"),
        )
    )


GOPHER_WC_MIN = 50
GOPHER_WC_MAX = 100_000
GOPHER_MWL_MIN = 3.0
GOPHER_MWL_MAX = 10.0
GOPHER_MIN_STOP = 2
GOPHER_MIN_UNIQ = 0.2


def doc_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule battery (Rae et al. 2021, §A.1.1) — the standard
    pre-training quality gate: word count in [50, 100k], mean word length
    in [3, 10], ≥ 2 distinct stopwords present, unique-word ratio ≥ 0.2
    (the repetition guard; the paper's duplicate-line rules degenerate to
    this on a single-line corpus). Emits every rule verdict plus the
    conjunction so downstream filters can relax individual rules.

    Entirely scan-local (higher-order array functions, zero shuffle, no
    UDF) — at 100 TB this is a pure map stage pipelined into the parquet
    scan. Rule comparisons run on the UNROUNDED doubles with identical
    expression trees in both engines; rounding is emit-only.
    """
    d = _words(load(spark, sf_dir, "documents"))
    n_words = F.size("ws").cast("long")
    sum_len = F.aggregate("ws", F.lit(0).cast("long"), lambda a, w: a + F.length(w))
    mwl = sum_len / n_words
    n_stop = F.size(
        F.array_intersect(F.array_distinct("ws"), F.array(*[F.lit(s) for s in STOPWORDS]))
    ).cast("long")
    uniq_ratio = F.size(F.array_distinct("ws")).cast("long") / n_words
    p_wc = (n_words >= GOPHER_WC_MIN) & (n_words <= GOPHER_WC_MAX)
    p_mwl = (mwl >= GOPHER_MWL_MIN) & (mwl <= GOPHER_MWL_MAX)
    p_stop = n_stop >= GOPHER_MIN_STOP
    p_uniq = uniq_ratio >= GOPHER_MIN_UNIQ
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mwl, 4).alias("mean_word_len"),
        n_stop.alias("n_stop_distinct"),
        F.round(uniq_ratio, 4).alias("uniq_ratio"),
        p_wc.cast("long").alias("pass_wordcount"),
        p_mwl.cast("long").alias("pass_meanlen"),
        p_stop.cast("long").alias("pass_stopwords"),
        p_uniq.cast("long").alias("pass_unique"),
        (p_wc & p_mwl & p_stop & p_uniq).cast("long").alias("pass_gopher"),
    )


def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality filtering, unigram form — the
    perplexity-filter proxy (CC-Net trains KenLM; the unigram LM is the
    first rung of the same ladder, trainable in one pass at corpus
    scale): per doc, the average token log-probability under the
    corpus's own unigram distribution. Template/boilerplate-heavy docs
    score HIGH (common tokens), rare-garbage docs score LOW — both
    tails get reviewed in a real pipeline.

    Plan: per-(doc, token) counts and the token frequency table come
    from the SAME exploded scan, shuffled once each on their key; the
    score join is token-to-token (co-partitioned with the frequency
    aggregate — no second wide pass); the 1-row corpus total broadcasts.
    The per-doc sum is quantized per row to an exact long (x·10^9) and
    aggregated with the hi/lo long split (`_util._hilo_total` — the
    det_sum convention) so it is addition-order independent —
    bit-identical across partitionings and engines — while every
    aggregate stays in long-typed whole-stage codegen (the
    DECIMAL(30,9)-cast sum this replaces was ~5× slower: BigDecimal
    per row in the partial aggregate).
    """
    tok = _words(load(spark, sf_dir, "documents")).select(
        "doc_id", F.explode("ws").alias("t")
    )
    dt = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    # tf derives from dt, NOT from a second pass over tok: the (doc,
    # token) exchange subtree is then identical under both consumers,
    # so Spark reuses it (ReusedExchange) — the corpus token stream is
    # scanned and exploded ONCE.
    tf = dt.groupBy("t").agg(F.sum("c").alias("cnt"))
    total = tf.agg(F.sum("cnt").alias("nn"))
    return (
        dt.join(tf, "t")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.round(
                _hilo_total(
                    _quantize(F.col("c") * F.log(F.col("cnt") / F.col("nn")), 9)
                ).cast("double")
                / F.lit(1e9)
                / F.sum("c"),
                4,
            ).alias("avg_logprob"),
        )
    )


def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality filtering, bigram rung — one step up the
    CC-Net ladder from `doc_unigram_logprob` (KenLM's 5-gram sits at
    the top; the bigram model is the first rung that sees word ORDER,
    so scrambled/boilerplate-stitched text scores low even when its
    unigram mix looks natural): per doc, the average add-one-smoothed
    conditional log-probability ln((c(v,w)+1) / (c(v)+V)) of its
    bigrams under the corpus's own bigram counts, with V = the context
    vocabulary size.

    Determinism: counts are exact longs, the smoothed ratio is one
    double division + ln per DISTINCT (doc, bigram), and the per-doc
    sum uses the hi/lo long quantization (det_sum convention) — the
    identical expression tree in DuckDB.

    Plan: bigrams explode ONCE; corpus bigram counts and context
    counts both derive from the (doc, bigram) pre-aggregate (same
    exchange subtree → ReusedExchange, the `doc_unigram_logprob`
    shape); the scoring join is bigram-keyed (co-partitioned with the
    count aggregate); V is a 1-row broadcast. Nothing is keyed by
    vocabulary size, nothing collects.
    """
    d = _words(load(spark, sf_dir, "documents")).filter(F.size("ws") >= 2)
    bg = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> struct(ws[i-1] AS v,"
                " concat(ws[i-1], ' ', ws[i]) AS b))"
            )
        ).alias("x"),
    ).select("doc_id", "x.v", "x.b")
    dbg = bg.groupBy("doc_id", "v", "b").agg(F.count(F.lit(1)).alias("c"))
    # bigram-TYPE table (vocabulary²-bounded) feeds three consumers —
    # materialize once, same trim as doc_kn_logprob
    cbw = dbg.groupBy("b").agg(
        F.sum("c").alias("cbw"), F.max("v").alias("bv")
    ).localCheckpoint(eager=True)
    cv = cbw.groupBy(F.col("bv").alias("v")).agg(F.sum("cbw").alias("cv"))
    vocab = cv.agg(F.count(F.lit(1)).alias("vv"))
    score = F.col("c") * F.log(
        (F.col("cbw") + 1) / (F.col("cv") + F.col("vv"))
    )
    return (
        dbg.join(cbw.drop("bv"), "b")
        .join(cv, "v")
        .join(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.round(
                _hilo_total(_quantize(score, 9)).cast("double")
                / F.lit(1e9)
                / F.sum("c"),
                4,
            ).alias("avg_logprob"),
        )
    )


def doc_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-shift quantification for mixture balancing: per source,
    the KL divergence D(P_source ‖ P_corpus) of its unigram token
    distribution from the whole corpus's — the signal that tells a
    `doc_mix_temperature`-style sampler which domains are outliers
    (e.g. code vs prose) before reweighting.

    KL is exact, not smoothed: every source token is in the corpus by
    construction (q > 0 wherever p > 0), so no epsilon enters the math
    and both engines evaluate identical expression trees. Plan: one
    exploded scan feeds (source, token) and corpus-token counts —
    token-keyed join co-partitioned with the frequency aggregate; the
    two scalar totals broadcast; final rollup is one row per source.
    """
    # no spread() here: the per-(source, token) aggregate immediately
    # shuffles anyway, so the pre-tokenize exchange only added a full
    # text-copy pass for a 20-row output (r02 wall 0.45 s vs r04 1.5 s
    # — the spread tax); scan-partition tokenization feeds the same
    # co-partitioned aggregate tree
    tok = load(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("t")
    )
    st = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("sc"))
    # corpus counts roll up from the per-source aggregate (ReusedExchange
    # — one exploded scan), same trick as doc_unigram_logprob
    tf = st.groupBy("t").agg(F.sum("sc").alias("cc"))
    src_n = st.groupBy("source").agg(F.sum("sc").alias("sn"))
    corp_n = tf.agg(F.sum("cc").alias("cn"))
    p = F.col("sc") / F.col("sn")
    q = F.col("cc") / F.col("cn")
    return (
        st.join(tf, "t")
        .join(F.broadcast(src_n), "source")
        .join(F.broadcast(corp_n))
        .groupBy("source")
        .agg(
            F.max("sn").cast("long").alias("n_tokens"),
            F.round(
                _hilo_total(_quantize(p * F.log(p / q), 12)).cast("double")
                / F.lit(1e12),
                6,
            ).alias("kl_divergence"),
        )
    )


SAMPLE_WEIGHTED_K = 100


def doc_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement at corpus scale — the
    Efraimidis–Spirakis exponential-key trick (2006): give every doc the
    key ``u^(1/w)`` (u uniform, w = quality score) and keep the global
    top-k keys. Inclusion probability is proportional to weight, no
    sequential reservoir needed — the top-k is a per-partition heap +
    single merge (TakeOrderedAndProject), so the full corpus never
    shuffles.

    The uniform is md5-derived (`_md5_unit`) — a pure function of doc_id
    — so the sample is stable under retries/re-partitions, and both
    engines evaluate the IDENTICAL double expression tree (weight and
    key), making the top-k boundary engine-stable; rounding is emit-only.
    """
    d = _words(load(spark, sf_dir, "documents"))
    n_tokens = F.size("ws").cast("long")
    n_unique = F.size(F.array_distinct("ws")).cast("long")
    n_stop = F.size(F.filter("ws", lambda x: x.isin(*STOPWORDS))).cast("long")
    w = (
        F.lit(0.4) * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (n_unique / n_tokens)
        + F.lit(0.3) * (F.lit(1.0) - n_stop / n_tokens)
    )
    u = _md5_unit(F.col("doc_id"), "wsamp|")
    key = F.pow(u, F.lit(1.0) / w)
    return (
        d.select(
            "doc_id",
            F.round(w, 4).alias("weight"),
            F.round(key, 6).alias("sample_key"),
            key.alias("_k"),
        )
        .orderBy(F.desc("_k"), F.asc("doc_id"))
        .limit(SAMPLE_WEIGHTED_K)
        .drop("_k")
    )


DUP_NGRAM_N = 5
DUP_MIN_DOCS = 2


def doc_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicate-n-gram fraction (the cross-document half of
    Gopher's repetition rules; CC-Net uses the same signal): for each doc,
    the share of its distinct word-5-grams that also appear in at least
    one OTHER document. High ratios flag boilerplate / template text that
    doc-local repetition stats (`doc_repetition_stats`) cannot see.

    Plan: distinct 5-grams per doc (scan-local transform+explode) → ONE
    count aggregation keyed on the gram (map-side combine collapses
    per-partition duplicates) → the duplicated-gram set semi-joins back
    on the same gram key (co-partitioned — Catalyst reuses the
    aggregation's hash partitioning, no second wide scan of the grams) →
    two doc_id-keyed rollups. Every shuffle is keyed by gram or doc_id;
    nothing broadcasts (the dup-gram set scales with the corpus) and
    nothing is all-pairs.
    """
    g = (
        _words(load(spark, sf_dir, "documents"))
        .filter(F.size("ws") >= DUP_NGRAM_N)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(0, size(ws) - {DUP_NGRAM_N}),"
                        f" i -> array_join(slice(ws, i + 1, {DUP_NGRAM_N}), ' '))"
                    )
                )
            ).alias("s"),
        )
    )
    dup = (
        g.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df_cnt"))
        .filter(F.col("df_cnt") >= DUP_MIN_DOCS)
        .select("s")
    )
    tot = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_ngrams"))
    nd = (
        g.join(dup, "s", "semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    return (
        tot.join(nd, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            F.coalesce("n_dup", F.lit(0)).alias("n_dup_ngrams"),
            F.round(F.coalesce("n_dup", F.lit(0)) / F.col("n_ngrams"), 4).alias(
                "dup_ratio"
            ),
        )
    )


BPE_TOP_K = 50


def doc_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale adjacent-pair frequency — the inner step of BPE /
    WordPiece vocabulary training (Sennrich et al. 2016): count every
    adjacent token pair across the corpus WITH multiplicity and return
    the top-50 merge candidates.

    Plan: scan-local pair construction (`transform` over an index
    sequence — same shape as `_shingles` but keeping duplicates, since
    merge ranking needs multiplicity) → explode → ONE count aggregation
    (map-side partial combine collapses each partition to its distinct
    pairs before the shuffle) → TakeOrderedAndProject. Pair cardinality,
    not token volume, crosses the wire. Tie-break on the pair string
    makes the top-k engine-stable.
    """
    d = _words(load(spark, sf_dir, "documents"))
    pairs = d.filter(F.size("ws") >= 2).select(
        F.explode(F.expr(bigrams_sql())).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(BPE_TOP_K)
    )


def doc_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization — the first pass of every pretraining corpus
    (CCNet/C4 style): lowercase, strip non-printable characters,
    collapse whitespace runs, trim. All JVM-side string expressions —
    scan-local, zero shuffle, pushdown-friendly; the 100 TB shape is a
    pure map stage. Emits before/after lengths so shrinkage is
    auditable downstream."""
    d = spread(load(spark, sf_dir, "documents"))
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^\x20-\x7e]", " "),
            r" +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        F.md5(norm).alias("norm_hash"),
    )


DSIR_BUCKETS = 256  # hashed-feature dimensionality (paper uses 10k at scale)
DSIR_TARGET_LANG = "en"  # the "target domain" the sampler steers toward


def doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): per-document importance log-weight under hashed
    bigram bag-of-ngrams language models,
    ``log p_target(x) − log p_raw(x)``, the score DSIR resamples the raw
    corpus by to match a target domain (here: the ``lang = 'en'`` slice
    stands in for the high-quality target set; raw = the whole corpus).

    Features are word bigrams hashed into DSIR_BUCKETS buckets via the
    repo's portable md5 uniform (engine-stable, retry-stable); both
    distributions are Laplace-smoothed (+1) so every bucket's log is
    finite with exact integer inputs.

    Plan/scale shape: the corpus is exploded ONCE into a
    (doc, lang, bucket) count pre-aggregate whose exchange subtree is
    identical under BOTH consumers — the bucket-count rollup and the
    per-doc scoring — so Spark reuses it (ReusedExchange, the
    `doc_unigram_logprob` trick) instead of re-scanning 100 TB per
    pass. The bucket table is FIXED-SIZE (DSIR_BUCKETS rows,
    localCheckpoint-ed once) so its join broadcasts at any corpus
    size; the only data-sized shuffles are the pre-aggregate and the
    per-doc rollup. Per-bucket log-ratios are per-row double math on
    integers (engine-exact); the per-doc sum is decimal-quantized so
    32-way combine order cannot move the 6th dp.
    """
    d = spread(load(spark, sf_dir, "documents"))
    toks = d.select("doc_id", "lang", F.split("text", " ").alias("ws")).filter(
        F.size("ws") >= 2
    )
    # multiplicity retained — DSIR's bag-of-ngrams features count occurrences
    bg = toks.select(
        "doc_id",
        "lang",
        F.explode(F.expr(bigrams_sql())).alias("s"),
    )
    bk = bg.select(
        "doc_id",
        "lang",
        F.floor(_md5_unit(F.col("s"), "dsir|") * DSIR_BUCKETS).cast("long").alias(
            "bucket"
        ),
    )
    # lang is constant per doc, so grouping by it adds no cardinality.
    # The pre-aggregate is materialized ONCE (eager checkpoint) and both
    # rollups read it — without this the corpus is exploded and hashed
    # twice (measured 3.4 s → 2.1 s at sf0.1). Size is ≤ docs × 256
    # rows, orders of magnitude under the token stream; a memory-tight
    # deployment swaps in persist(DISK_ONLY) at the same line.
    db = (
        bk.groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    counts = (
        db.groupBy("bucket")
        .agg(
            F.sum("c").alias("c_raw"),
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("c")).otherwise(0)
            ).cast("long").alias("c_tgt"),
        )
    )
    totals = counts.agg(
        F.sum("c_raw").alias("n_raw"), F.sum("c_tgt").alias("n_tgt")
    )
    lr = F.log(
        (F.col("c_tgt") + 1.0) / (F.col("n_tgt") + F.lit(DSIR_BUCKETS))
    ) - F.log((F.col("c_raw") + 1.0) / (F.col("n_raw") + F.lit(DSIR_BUCKETS)))
    ratio_tbl = counts.join(F.broadcast(totals)).select("bucket", lr.alias("lr"))
    per_doc = (
        db.join(F.broadcast(ratio_tbl), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            # hi/lo long quantization (det_sum convention) — the
            # DECIMAL(30,12) cast-sum this replaces kept BigDecimal in
            # the partial aggregate (the r03→r04 hot-path rewrite)
            F.round(
                _hilo_total(_quantize(F.col("c") * F.col("lr"), 12)).cast(
                    "double"
                )
                / F.lit(1e12),
                6,
            ).alias("dsir_logweight"),
        )
    )
    # docs too short to form a bigram still appear, weight 0
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("dsir_logweight", F.lit(0.0)).alias("dsir_logweight"),
        )
    )


def _dsir_sql() -> str:
    u = _md5_unit_sql("s", "dsir|")
    return f"""
        WITH toks AS (
            SELECT doc_id, lang, string_split(text, ' ') AS ws
            FROM documents WHERE len(string_split(text, ' ')) >= 2
        ),
        bg AS (
            SELECT doc_id, lang,
                   unnest(list_transform(range(1, len(ws)),
                                         i -> ws[i] || ' ' || ws[i + 1])) AS s
            FROM toks
        ),
        bk AS (
            SELECT doc_id, lang,
                   CAST(floor({u} * {DSIR_BUCKETS}) AS BIGINT) AS bucket
            FROM bg
        ),
        db AS (
            SELECT doc_id, lang, bucket, count(*) AS c
            FROM bk GROUP BY doc_id, lang, bucket
        ),
        counts AS (
            SELECT bucket, CAST(sum(c) AS BIGINT) AS c_raw,
                   CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                            THEN c ELSE 0 END) AS BIGINT) AS c_tgt
            FROM db GROUP BY bucket
        ),
        tot AS (
            SELECT CAST(sum(c_raw) AS BIGINT) AS n_raw,
                   CAST(sum(c_tgt) AS BIGINT) AS n_tgt
            FROM counts
        ),
        lr AS (
            SELECT bucket,
                   ln((c_tgt + 1.0) / (n_tgt + {DSIR_BUCKETS}))
                   - ln((c_raw + 1.0) / (n_raw + {DSIR_BUCKETS})) AS lr
            FROM counts, tot
        ),
        per AS (
            SELECT db.doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                   round(CAST({_hilo_total_sql("c * lr", 12)} AS DOUBLE) / 1e12, 6)
                       AS dsir_logweight
            FROM db JOIN lr USING (bucket) GROUP BY db.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               coalesce(per.dsir_logweight, 0.0) AS dsir_logweight
        FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    """


FIXED_K_SALTS = 64  # two-phase rank fan-out (parallelism per stratum)


def doc_sample_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size stratified sample: EXACTLY k docs per language (or
    all of them when the stratum is smaller) — the dataset-assembly op
    behind "10k documents per language" style corpus specs, where
    rate-based sampling (`doc_sample_stratified`) can't hit an exact
    count. Deterministic: rank by the md5-derived uniform with a
    doc_id tie-break, so the sample is a pure function of the corpus
    (retry/partition/engine stable).

    Scale shape: the stratum key is an ENUM (a handful of languages),
    so a single per-lang window would funnel each language's whole
    slice through one partition — the anti-pattern the percentile
    rewrite killed. Instead the rank runs in two phases: top-k per
    (lang, salt) — parallelism ∝ langs × FIXED_K_SALTS, window sort
    spills — then a final top-k over the ≤ salts·k survivors per lang
    (bounded rows, cheap). Same discipline as `kmv_sketch`.
    """
    d = spread(load(spark, sf_dir, "documents"))
    u = _md5_unit(F.col("doc_id"), "fixk|")
    salt = F.floor(_md5_unit(F.col("doc_id"), "fixksalt|") * FIXED_K_SALTS)
    pre = d.select(
        "doc_id", "lang", u.alias("u"), salt.cast("long").alias("salt")
    )
    w1 = Window.partitionBy("lang", "salt").orderBy("u", "doc_id")
    survivors = (
        pre.withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= SAMPLE_FIXED_K)
        .drop("rk1")
    )
    w2 = Window.partitionBy("lang").orderBy("u", "doc_id")
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("sample_rank") <= SAMPLE_FIXED_K)
        .select("doc_id", "lang", "sample_rank")
    )


def doc_neardup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-graph observability: the DEGREE HISTOGRAM of the verified
    MinHash-LSH pair graph — (degree → node count), the diagnostic a
    dedup run publishes before clustering. Degree spikes reveal
    boilerplate/template families (near-cliques) and predict the CC
    loop's workload (components are near-cliques, so max degree ≈
    largest family size); a heavy tail is the signal to raise the
    Jaccard threshold or add stop-shingle pruning before the cluster
    pass melts an executor.

    Plan: pairs → symmetrize (explode of a 2-element array — no second
    scan) → degree per node (one pair-graph-sized aggregate) → histogram
    (one degree-cardinality aggregate). Everything downstream of pair
    generation is ∝ the near-dup graph, never the corpus."""
    pairs = doc_minhash_lsh_pairs(spark, sf_dir).select("da", "db")
    deg = (
        pairs.select(
            F.explode(F.array(F.col("da"), F.col("db"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


DELETE_REQUEST_RATE = 0.02  # fraction of doc_ids with a deletion request


def doc_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation — the compliance operator every
    production corpus needs: a deletion request names doc_ids, but the
    pipeline must also remove every OTHER copy of the same content
    (exact-dedup siblings), or the "deleted" text survives in a
    replica. Emits the per-source audit a DPO signs off on: requests,
    propagated copies, rows and bytes removed, rows kept.

    Requests are a deterministic hash slice of doc_ids (the md5-unit
    stands in for the request table a real deployment joins in).

    Scale shape: requested docs are a thin filter of the scan; the
    propagation is ONE shuffle equi-join of the corpus against the
    requested-content hash set keyed on md5(text) — uniformly
    distributed, skew-free, and sized by the request volume, not the
    corpus (at 100 TB the request side is the small relation, and AQE
    broadcast-converts it when it fits). No driver materialization.
    """
    d = spread(load(spark, sf_dir, "documents"))
    is_req = _md5_unit(F.col("doc_id"), "del|") < DELETE_REQUEST_RATE
    hashed = d.select(
        "doc_id", "source", "n_chars",
        F.md5("text").alias("text_hash"),
        is_req.alias("is_request"),
    )
    target = (
        hashed.filter("is_request")
        .select("text_hash")
        .distinct()
        .withColumn("hash_deleted", F.lit(True))
    )
    tagged = hashed.join(target, "text_hash", "left").select(
        "source", "n_chars", "is_request",
        F.coalesce("hash_deleted", F.lit(False)).alias("deleted"),
    )
    return tagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_request").cast("long")).alias("n_requests"),
        F.sum(F.col("deleted").cast("long")).alias("n_deleted"),
        F.sum((F.col("deleted") & ~F.col("is_request")).cast("long")).alias(
            "n_propagated"
        ),
        F.sum(F.when(F.col("deleted"), F.col("n_chars")).otherwise(F.lit(0)))
        .cast("long")
        .alias("chars_deleted"),
        F.sum((~F.col("deleted")).cast("long")).alias("n_kept"),
    )


SNAP_V1_CUT = 0.9  # v1 = docs with u_snap < 0.9
SNAP_V2_CUT = 0.1  # v2 = docs with u_snap >= 0.1 (80% overlap with v1)
SNAP_EDIT_RATE = 0.05  # of the overlap, 5% carry edited content in v2


def doc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-publish diff between two corpus snapshots: per
    (lang, shard) — docs added, removed, content-changed and unchanged,
    plus the dirty flag that decides which shards re-upload. This is
    the op a 100 TB dataset release runs so a new version ships only
    the shards that moved, instead of re-writing the whole corpus
    (shard mapping shared with `doc_shard_manifest`).

    The two versions are deterministic hash slices of the corpus (v2
    drops a 10% head, adds a 10% tail, and edits 5% of the overlap by
    content); a real deployment feeds two actual snapshots in.

    Scale shape: both versions are thin projections of one scan
    carrying only (doc_id, lang, shard, content hash); the diff is ONE
    full-outer equi-join shuffled on doc_id, classified row-local, and
    collapsed to a |langs|·|shards|-row aggregate. Nothing else crosses
    the wire; only dirty shards are re-published downstream.
    """
    d = spread(load(spark, sf_dir, "documents"))
    u_snap = _md5_unit(F.col("doc_id"), "snap|")
    edited = _md5_unit(F.col("doc_id"), "edit|") < SNAP_EDIT_RATE
    shard = F.floor(
        _md5_unit(F.col("doc_id"), "shard|") * N_MANIFEST_SHARDS
    ).cast("long")
    base = d.select(
        "doc_id", "lang", u_snap.alias("u"), edited.alias("ed"),
        shard.alias("shard"), F.md5("text").alias("h1"),
        F.md5(F.concat(F.col("text"), F.lit("|v2edit"))).alias("h2e"),
    )
    v1 = base.filter(F.col("u") < SNAP_V1_CUT).select(
        "doc_id", "lang", "shard", F.col("h1").alias("hash_v1"),
        F.lit(1).alias("in_v1"),
    )
    v2 = base.filter(F.col("u") >= SNAP_V2_CUT).select(
        "doc_id", "lang", "shard",
        F.when(F.col("ed"), F.col("h2e")).otherwise(F.col("h1")).alias("hash_v2"),
        F.lit(1).alias("in_v2"),
    )
    # Side presence comes from explicit markers, NOT hash nullness — a
    # doc with NULL text hashes to NULL on both sides and would
    # misclassify as 'added' while the presence-based oracle says
    # 'same'. The not-eqNullSafe change test keeps NULL==NULL as
    # unchanged, matching the oracle's `hash_v1 <> hash_v2`.
    diff = v1.join(v2, ["doc_id", "lang", "shard"], "full_outer").select(
        "lang", "shard",
        F.when(F.col("in_v1").isNull(), F.lit("added"))
        .when(F.col("in_v2").isNull(), F.lit("removed"))
        .when(
            ~F.col("hash_v1").eqNullSafe(F.col("hash_v2")), F.lit("changed")
        )
        .otherwise(F.lit("same"))
        .alias("cls"),
    )
    agg = diff.groupBy("lang", "shard").agg(
        F.sum((F.col("cls") == "added").cast("long")).alias("n_added"),
        F.sum((F.col("cls") == "removed").cast("long")).alias("n_removed"),
        F.sum((F.col("cls") == "changed").cast("long")).alias("n_changed"),
        F.sum((F.col("cls") == "same").cast("long")).alias("n_same"),
    )
    return agg.select(
        "lang", "shard", "n_added", "n_removed", "n_changed", "n_same",
        (F.col("n_added") + F.col("n_removed") + F.col("n_changed") > 0).alias(
            "shard_dirty"
        ),
    )


BPE_TRAIN_MERGES = 8
# ≤ this many distinct words → the merge loop runs driver-side on a
# bounded Arrow collect (the graph.py driver-union-find rule): the
# whole sequential-argmax loop costs 3 scheduled jobs instead of
# ~2 × merges. The cap keeps the collect ≤ a few MB AND the
# pure-Python loop ≤ ~1 s (8 rounds × 64k words × ~7 symbols).
BPE_DRIVER_MAX_VOCAB = 65_536
BPE_TRAIN_SAMPLE = 0.25  # tokenizers train on a corpus sample


def doc_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary training (Sennrich et al. 2016,
    arXiv:1508.07909): the full iterative merge loop, not just one
    pair-count round (`doc_bpe_pair_counts` is the inner step). Words
    from a deterministic corpus sample collapse to a (word → count)
    vocabulary ONCE; every later iteration runs on that vocabulary
    table — symbol sequences start as characters + '</w>', each round
    counts adjacent symbol pairs weighted by word count, merges the
    argmax pair (ties broken lexicographically), and rewrites the
    sequences with a greedy left-to-right fold (higher-order
    `aggregate`, JVM-side — merged symbols can't cascade within a pass
    because merged = left||right is never equal to left).

    Scale shape: the corpus-sized work is ONE word-count aggregation;
    the loop touches only the vocabulary table (|distinct words| rows —
    millions at 100 TB, never corpus-sized), localCheckpoint()ed per
    round so lineage stays flat, with a single 1-row argmax collect per
    merge (the emb_kmeans bounded-collect convention).

    SEQUENTIAL-ROUNDS CONTRACT (the merge_into by-source convention of
    stating the inherent cost up front): BPE's merge selection is a
    sequential argmax — round N+1's pair counts depend on round N's
    merge, so the driver runs BPE_MERGES rounds one after another by
    construction (Sennrich's algorithm, not an implementation choice).
    Wall cost is BPE_MERGES × (one vocabulary-sized agg + one 1-row
    collect); each round is distributed internally, but rounds can
    never overlap, so a large-vocab production run should budget
    ~seconds × merges, independent of corpus size after the first
    aggregation.

    Emission is the gate-row convention (COVERAGE.md): the first merge
    is recomputed exactly by the DuckDB oracle (chars explode +
    weighted count + argmax — one unrolled round), conservation and
    monotonicity of the full loop are boolean gates (max pair count
    never increases across BPE merges; total token count is invariant),
    and the full 8-merge list is pinned against a pure-Python reference
    in `test_bpe_train_matches_reference`.
    """
    merges, stats = _bpe_train_merges(spark, sf_dir)
    counts = [m[4] for m in merges]
    first = merges[0] if merges else (0, None, None, None, 0)
    return spark.createDataFrame(
        [
            (
                len(merges),
                first[1],
                first[2],
                first[4] if merges else 0,
                all(a >= b for a, b in zip(counts, counts[1:])),
                all(c > 0 for c in counts),
                int(stats["vocab_words"] or 0),
                int(stats["corpus_tokens"] or 0),
            )
        ],
        "n_merges long, first_left string, first_right string, first_count long,"
        " monotone_ok boolean, counts_positive boolean, vocab_words long,"
        " corpus_tokens long",
    )


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word → count) vocabulary over the deterministic training sample."""
    d = _words(load(spark, sf_dir, "documents"))
    sampled = d.filter(_md5_unit(F.col("doc_id"), "bpe|") < BPE_TRAIN_SAMPLE)
    return (
        sampled.select(F.explode("ws").alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bpe_train_merges(spark: SparkSession, sf_dir: str):
    """The merge loop behind `doc_bpe_train`: returns the
    (step, left, right, merged, pair_count) list and the vocab stats
    row. Exposed so `test_bpe_train_matches_reference` can pin every
    merge — not just the gate row — against the pure-Python
    implementation.

    TWO size-guarded paths, the `operators/graph.py` discipline: BPE's
    merge selection is a sequential argmax (round N+1's counts depend
    on round N's merge — Sennrich's algorithm), so the distributed
    loop costs BPE_TRAIN_MERGES × (one vocabulary agg + one 1-row
    collect + one checkpoint) of pure scheduler wall when the
    vocabulary is small. Below ``BPE_DRIVER_MAX_VOCAB`` distinct words
    the (word, cnt) table is a bounded Arrow collect (≤ a few MB) and
    the SAME pinned pure-Python loop (`_bpe_reference` — the exactness
    reference the distributed loop is tested against) runs the merges
    in one go: ~18 scheduled jobs become 3. Above the guard, the
    distributed loop is the right tool (per-round aggs scale out; a
    driver loop over millions of words would not) and runs unchanged.
    Both paths produce identical merge lists — the same tie-break
    (count desc, left asc, right asc; Python and UTF8String string
    order agree code-point-wise) pinned by
    `test_bpe_train_matches_reference` and `test_bpe_small_vocab_path_
    matches_distributed`."""
    vocab_wc = _bpe_vocab(spark, sf_dir).localCheckpoint()
    stats = vocab_wc.agg(
        F.count(F.lit(1)).alias("vocab_words"),
        F.sum("cnt").alias("corpus_tokens"),
    ).collect()[0]
    if int(stats["vocab_words"] or 0) <= BPE_DRIVER_MAX_VOCAB:
        pdf = vocab_wc.toPandas()
        merges = _bpe_reference(
            dict(zip(pdf["word"], (int(c) for c in pdf["cnt"]))),
            BPE_TRAIN_MERGES,
        )
        return merges, stats
    vocab = vocab_wc.select(
        F.expr(
            "concat(transform(sequence(1, length(word)),"
            " i -> substring(word, i, 1)), array('</w>'))"
        ).alias("syms"),
        "cnt",
    )
    cur = vocab.localCheckpoint()
    # The loop table is vocabulary-sized, not corpus-sized: size its
    # partitioning to the actual row count (~100k symbol rows per task)
    # so 16 jobs over a toy vocab don't pay 32 empty-task schedules per
    # round, while a 100 TB vocabulary (millions of words) still spreads
    # across the cluster. coalesce on the checkpointed frame is narrow.
    parallelism = spark.sparkContext.defaultParallelism
    n_parts = max(1, min(parallelism, int(stats["vocab_words"] or 0) // 100_000 + 1))
    cur = cur.coalesce(n_parts)
    merges: list[tuple] = []
    for step in range(1, BPE_TRAIN_MERGES + 1):
        pairs = (
            cur.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2),"
                        " i -> struct(syms[i] AS l, syms[i + 1] AS r))"
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("c"))
        )
        best = pairs.orderBy(F.desc("c"), F.asc("l"), F.asc("r")).limit(1).collect()
        if not best:
            break
        left, right, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
        merges.append((step, left, right, left + right, c))
        fold = F.aggregate(
            "syms",
            F.expr("CAST(array() AS array<string>)"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (s == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        cur = cur.withColumn("syms", fold).localCheckpoint()
    return merges, stats


def _bpe_reference(word_counts: dict, n_merges: int) -> list[tuple]:
    """Pure-Python Sennrich BPE on a (word → count) vocabulary —
    the exactness reference for the distributed loop."""
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in word_counts.items()}
    out = []
    for step in range(1, n_merges + 1):
        pair_counts: dict = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pair_counts[(syms[i], syms[i + 1])] = (
                    pair_counts.get((syms[i], syms[i + 1]), 0) + c
                )
        if not pair_counts:
            break
        (left, right), c = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((step, left, right, left + right, c))
        new_vocab: dict = {}
        for syms, cnt in vocab.items():
            acc: list = []
            for s in syms:
                if acc and acc[-1] == left and s == right:
                    acc[-1] = left + right
                else:
                    acc.append(s)
            new_vocab[tuple(acc)] = new_vocab.get(tuple(acc), 0) + cnt
        vocab = new_vocab
    return out


SHUFFLE_ROWS_PER_SHARD = 1000


def doc_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle → ``(doc_id, shard,
    shard_pos)``: the order a training job reads the corpus in, fixed
    across retries and re-partitions. Every epoch-shuffling data loader
    needs exactly this artifact — shard files of bounded size in a
    pseudo-random but REPRODUCIBLE order (seeded by content-independent
    id hashing, so adding a document perturbs one shard, not the whole
    order).

    Scale shape: shard COUNT grows with the corpus (fixed rows per
    shard — the real-world invariant: shard files are IO-sized, not
    count-fixed), so the per-shard ``row_number`` window partitions on
    ~SHUFFLE_ROWS_PER_SHARD rows regardless of corpus size — never an
    unpartitioned (or giant-partition) sort. The only full-data
    exchange is the one shuffle into shards; the count probe is a
    scalar aggregate (the standing two-pass guard shape).
    """
    d = load(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    n_shards = max(1, -(-n // SHUFFLE_ROWS_PER_SHARD))  # ceil
    u = _md5_unit(F.col("doc_id"), "shuf|")
    w = Window.partitionBy("shard").orderBy("u", "doc_id")
    return (
        d.select("doc_id", u.alias("u"))
        .withColumn("shard", F.floor(F.col("u") * n_shards).cast("long"))
        .select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("long").alias("shard_pos"),
        )
    )


def doc_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC-Net-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): per language, split documents into head / middle
    / tail tertiles by language-model score — the standard curriculum /
    filtering signal (head = most fluent third under the LM). The LM is
    the corpus's own unigram model (`doc_unigram_logprob`, the first
    rung of CC-Net's KenLM ladder); higher avg token log-prob = lower
    perplexity = head.

    Scale shape: `lang` is an enum column, so ``Window.partitionBy(lang)``
    would concentrate each language into ONE partition (20 TB partitions
    at 100 TB) — ranks come from
    ``operators.ranking.with_exact_rank_grouped`` instead: exact
    per-(lang, value-bucket) ranks, every shuffle keyed by the
    composite. Tertile assignment is pure integer arithmetic on
    (rank, group count) — no float boundary, bit-stable in both engines.
    """
    from kafka_flink_harshevents_spark.operators.ranking import (
        with_exact_rank_grouped,
    )

    lp = doc_unigram_logprob(spark, sf_dir).select("doc_id", "avg_logprob")
    langs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = lp.join(langs, "doc_id")
    ranked = with_exact_rank_grouped(scored, "lang", "avg_logprob", "doc_id")
    # rank ascending by logprob: the LOWEST scores (highest perplexity)
    # fill the tail tertile, the highest fill the head
    bucket = (
        F.when(F.col("rn") * 3 > F.col("n") * 2, F.lit("head"))
        .when(F.col("rn") * 3 > F.col("n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return ranked.select(
        "doc_id", "lang", "avg_logprob", bucket.alias("ppl_bucket")
    )


def _bpe_encoded_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode each DISTINCT corpus word with the trained merges:
    ``(word, n_chars_w, n_toks_w, rt_ok)``. The fold runs once per
    vocabulary entry, not once per corpus occurrence — the same
    corpus-vs-vocabulary separation the trainer uses (a 100 TB corpus
    has ~10^12 word occurrences but only ~10^7 distinct words, so the
    8-deep merge fold runs 10^5× less often; consumers join the counts
    back on the word key)."""
    merges, _ = _bpe_train_merges(spark, sf_dir)
    vocab = (
        spread(load(spark, sf_dir, "documents"))
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    chars = F.expr(
        "concat(transform(sequence(1, length(word)),"
        " i -> substring(word, i, 1)), array('</w>'))"
    )

    def _apply_merge(arr: Column, left: str, right: str) -> Column:
        return F.aggregate(
            arr,
            F.expr("CAST(array() AS array<string>)"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (s == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )

    toks = chars
    for _, left, right, _, _ in merges:
        toks = _apply_merge(toks, left, right)
    return vocab.select(
        "word",
        F.length("word").alias("n_chars_w"),
        F.size(toks).cast("long").alias("n_toks_w"),
        (F.array_join(toks, "") == F.concat(F.col("word"), F.lit("</w>"))).alias(
            "rt_ok"
        ),
    )


def _bpe_encode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-occurrence encode table behind `doc_bpe_encode`: (doc_id,
    source, n_chars_w, n_toks_w, rt_ok) — the corpus word stream joined
    to the once-per-distinct-word encoded vocabulary on the word key.
    Exposed so the reference-parity test can pin every word's token
    count — not just the gate row — against the pure-Python encoder
    (`_bpe_encode_reference`)."""
    words = (
        spread(load(spark, sf_dir, "documents"))
        .select("doc_id", "source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    return words.join(_bpe_encoded_vocab(spark, sf_dir), "word").select(
        "doc_id", "source", "n_chars_w", "n_toks_w", "rt_ok"
    )


def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — encode the full corpus with the merges
    `doc_bpe_train` learned, closing the BPE loop (train → encode):
    per word, start from characters + '</w>' and replay every merge in
    training order as a greedy left-to-right fold — the same JVM-side
    ``aggregate`` expression the trainer rewrites its vocabulary with,
    so encode and train share one merge semantics by construction.

    Scale shape: the merge list is tiny and driver-side (it came from
    the bounded 1-row-per-merge argmax collects); the 8-deep merge fold
    runs once per DISTINCT word (`_bpe_encoded_vocab`), never per
    occurrence, and joins back to vocabulary-sized per-(source, word)
    counts — the corpus stream crosses the wire once, for the counts. Token counts per doc depend on the trained
    merges, so the catalog row is the GATE convention: exact n_docs /
    n_words per source (oracle-checkable), plus boolean invariants —
    decode(encode(w)) == w for every word (concatenation is preserved
    by merging) and n_words ≤ n_tokens ≤ initial symbol count (each
    merge strictly shrinks a sequence it fires on). The exact per-doc
    token counts are pinned against a pure-Python encoder in
    tests/test_documents_ops.py::test_bpe_encode_matches_reference.
    """
    words = (
        spread(load(spark, sf_dir, "documents"))
        .select("doc_id", "source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    # per-(source, word) counts FIRST, then join the once-per-distinct-
    # word encoded vocabulary: the expensive fold never touches the
    # corpus stream, and the join is vocabulary-sized on both sides
    wc = words.groupBy("source", "word").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # docs-with-words per source WITHOUT a second corpus explode: a doc
    # has a non-empty word iff its text has any non-space character
    docs_per_source = (
        load(spark, sf_dir, "documents")
        .filter(F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) > 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    vocab = _bpe_encoded_vocab(spark, sf_dir)
    return (
        wc.join(vocab, "word")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.bool_and("rt_ok").alias("roundtrip_ok"),
            F.bool_and(
                (F.col("n_toks_w") >= 1)
                & (F.col("n_toks_w") <= F.col("n_chars_w") + 1)
            ).alias("compressed_ok"),
        )
        .join(docs_per_source, "source")
        .select("source", "n_docs", "n_words", "roundtrip_ok", "compressed_ok")
    )


def _bpe_encode_reference(word: str, merges: list[tuple]) -> list[str]:
    """Pure-Python twin of the JVM encode fold: replay every trained
    merge in order as a greedy left-to-right pass — the exactness
    reference for `_bpe_encode_words`."""
    syms = list(word) + ["</w>"]
    for _, left, right, _, _ in merges:
        acc: list[str] = []
        for s in syms:
            if acc and acc[-1] == left and s == right:
                acc[-1] = left + right
            else:
                acc.append(s)
        syms = acc
    return syms


def doc_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph density diagnostic: triangle count, wedge count
    and the global clustering coefficient of the verified MinHash pair
    graph — the signal that tells a dedup run whether its duplicate
    families are tight cliques (template boilerplate: coefficient → 1)
    or loose chains (borderline near-dups transitively glued:
    coefficient → 0), i.e. whether canonical-per-component dedup is
    safe or over-merges.

    Scale shape: edges are stored once with da < db, so a triangle
    a < b < c is exactly one match of the two keyed equi-joins
    (e1=(a,b) ⋈ e2=(b,c) on b, ⋈ e3=(a,c)) — shuffle ∝ pair graph,
    never corpus; wedges come from one degree aggregate (exact integer
    d·(d−1)/2). The pair graph is localCheckpoint-ed once and feeds
    all three shapes."""
    p = doc_minhash_lsh_pairs(spark, sf_dir).select("da", "db").localCheckpoint()
    tri = (
        p.alias("e1")
        .join(p.alias("e2"), F.col("e1.db") == F.col("e2.da"))
        .join(
            p.alias("e3"),
            (F.col("e3.da") == F.col("e1.da"))
            & (F.col("e3.db") == F.col("e2.db")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    deg = (
        p.select(F.col("da").alias("node"))
        .unionAll(p.select(F.col("db").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.coalesce(
            F.sum(F.expr("d * (d - 1) DIV 2")), F.lit(0)
        ).cast("long").alias("n_wedges")
    )
    return tri.crossJoin(F.broadcast(wedges)).select(
        "n_triangles",
        "n_wedges",
        F.round(
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("clustering_coeff"),
    )


ZORDER_BITS = 4  # bits per dimension (16 buckets each, 8-bit z-value)
ZORDER_FILE_ROWS = 100  # docs per output file in the layout


def doc_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data layout + per-file skipping stats —
    the lakehouse OPTIMIZE ZORDER shape (Delta/Iceberg file clustering):
    interleave the bits of two query dimensions (a 4-bit language bucket
    and a 4-bit size bucket), sort the corpus along the curve, cut it
    into fixed-size files, and emit each file's min/max per dimension —
    the data-skipping index a 100 TB scan prunes with. Because the
    curve keeps both dimensions locally clustered, a predicate on
    EITHER dimension excludes most files by min/max alone — the reason
    this layout beats a single-column sort for multi-dimension filters.

    Scale shape: the z-value is a pure per-row projection (shift/mask
    arithmetic, no UDF); the global curve order uses the distributed
    bucketed rank (`operators/ranking.py` — no unpartitioned Window);
    the stats rollup is one keyed aggregate over file ids. Output file
    SIZE is fixed, so file count grows with the corpus. Rank-window
    width: the bucketed rank partitions by value range over zv, which
    has only 2^(2·ZORDER_BITS) = 256 distinct values — at N rows each
    non-empty bucket's window holds ~N/256 rows (the window sort
    spills, so memory stays bounded; parallelism is what degrades). A
    deployment that needs finer partitions raises ZORDER_BITS — more z
    values = more rank buckets — at no change to the layout semantics.
    """
    from kafka_flink_harshevents_spark.operators.ranking import (
        with_exact_rank,
    )

    d = load(spark, sf_dir, "documents")
    x = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("z|"), F.col("lang"))), 1, 8),
            16,
            10,
        ).cast("long"),
        F.lit(1 << ZORDER_BITS),
    )
    y = F.least(
        F.expr("n_chars div 64").cast("long"), F.lit((1 << ZORDER_BITS) - 1)
    )
    t = d.select(F.col("doc_id"), x.alias("x"), y.alias("y"))
    zbits = []
    for i in range(ZORDER_BITS):
        zbits.append(F.expr(f"(x div {1 << i}) % 2") * F.lit(1 << (2 * i)))
        zbits.append(
            F.expr(f"(y div {1 << i}) % 2") * F.lit(1 << (2 * i + 1))
        )
    zv = zbits[0]
    for b in zbits[1:]:
        zv = zv + b
    t = t.withColumn("zv", zv.cast("long"))
    ranked = with_exact_rank(t, "zv", "doc_id")
    return (
        ranked.withColumn(
            "file_id", F.expr(f"(rn - 1) div {ZORDER_FILE_ROWS}").cast("long")
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("zv").alias("z_min"),
            F.max("zv").alias("z_max"),
            F.min("x").alias("lang_bucket_min"),
            F.max("x").alias("lang_bucket_max"),
            F.min("y").alias("size_bucket_min"),
            F.max("y").alias("size_bucket_max"),
        )
    )


KN_DISCOUNT = 0.75  # the standard KN absolute discount (Chen & Goodman)


def doc_kn_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality filtering, Kneser–Ney rung — the top of
    this repo's perplexity ladder (unigram → add-one bigram → KN
    bigram). Interpolated KN (Kneser & Ney 1995; Chen & Goodman 1998)
    replaces add-one smoothing with absolute discounting plus a
    CONTINUATION back-off: ``P(w|v) = max(c(v,w)−D, 0)/c(v) +
    (D·N1+(v,·)/c(v)) · (N1+(·,w)/N1+(··))`` — the back-off weights a
    word by how many distinct contexts it FOLLOWS, not how often it
    occurs, which is what makes KN the standard n-gram smoother (the
    'Francisco' problem: frequent but single-context words stop leaking
    probability mass). Per doc: average conditional log-prob of its
    bigrams under the corpus's own KN model.

    Determinism: every count is an exact long; the probability is a
    fixed tree of IEEE ops (two divisions, one product, one sum, one
    ln) on those longs, identical in DuckDB; per-doc sums use the hi/lo
    quantization. No OOV path: the model is trained on the scored
    corpus, so c(v,w) ≥ 1 and the discounted term ≥ (1−D)/c(v) > 0.

    Plan: same ReusedExchange shape as `doc_bigram_logprob` — ONE
    bigram explode feeds the (doc, bigram) pre-aggregate from which
    bigram counts, context counts (+ distinct-successor N1+(v,·)),
    continuation counts N1+(·,w) and the 1-row type total all derive;
    scoring joins are bigram-/word-keyed, the total broadcasts.
    """
    d = _words(load(spark, sf_dir, "documents")).filter(F.size("ws") >= 2)
    bg = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> struct(ws[i-1] AS v, ws[i] AS w,"
                " concat(ws[i-1], ' ', ws[i]) AS b))"
            )
        ).alias("x"),
    ).select("doc_id", "x.v", "x.w", "x.b")
    dbg = bg.groupBy("doc_id", "v", "w", "b").agg(F.count(F.lit(1)).alias("c"))
    # cbw is the bigram-TYPE table (vocabulary²-bounded, tiny next to
    # the corpus) and feeds FOUR consumers (cv, cont, ntypes, the
    # scoring join); materialize it once so the explode→dbg subtree
    # runs a single time and the downstream aggregates are one wave
    # over materialized rows
    cbw = dbg.groupBy("b").agg(
        F.sum("c").alias("cbw"), F.max("v").alias("bv"), F.max("w").alias("bw")
    ).localCheckpoint(eager=True)
    cv = cbw.groupBy(F.col("bv").alias("v")).agg(
        F.sum("cbw").alias("cv"), F.count(F.lit(1)).alias("n1p")
    )
    cont = cbw.groupBy(F.col("bw").alias("w")).agg(
        F.count(F.lit(1)).alias("ncont")
    )
    ntypes = cbw.agg(F.count(F.lit(1)).alias("nt"))
    p = F.greatest(F.col("cbw") - F.lit(KN_DISCOUNT), F.lit(0.0)) / F.col(
        "cv"
    ) + (F.lit(KN_DISCOUNT) * F.col("n1p") / F.col("cv")) * (
        F.col("ncont") / F.col("nt")
    )
    score = F.col("c") * F.log(p)
    return (
        dbg.join(cbw.select("b", "cbw"), "b")
        .join(cv, "v")
        .join(cont, "w")
        .join(F.broadcast(ntypes))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.round(
                _hilo_total(_quantize(score, 9)).cast("double")
                / F.lit(1e9)
                / F.sum("c"),
                4,
            ).alias("avg_logprob"),
        )
    )


PMI_MIN_PAIR_COUNT = 5


def doc_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: pointwise mutual information over
    adjacent word pairs — ``PMI(x,y) = ln( P(x,y) / (P(x)·P(y)) )``
    computed from corpus-wide bigram and unigram counts. The standard
    phrase-mining signal (Church & Hanks 1990; the word2vec phrase
    pass): high-PMI pairs are multiword units a tokenizer or phrase
    vocabulary should keep together.

    Engine-stability: counts are exact BIGINTs; the PMI double is
    computed by BOTH engines from the identical expression tree
    ``ln((c_xy/c_x) · (N/c_y))`` on exact-integer inputs (two correctly
    rounded IEEE divisions + one product), rounded at 4dp. Pairs below
    ``PMI_MIN_PAIR_COUNT`` are dropped on the exact count — no float
    participates in row membership.

    Scale shape: bigram emission is scan-local (``arrays_zip`` over two
    slices — no posexplode self-join); the two count aggregates shuffle
    on the pair / the word (map-side combined); unigram and total
    tables attach via equi-joins that AQE broadcast-converts (the word
    table is vocabulary-sized — bounded — and N is one row). Nothing
    here is all-pairs: work ∝ corpus tokens.
    """
    w = _words(load(spark, sf_dir, "documents")).filter(F.size("ws") >= 2)
    pairs = w.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 2),"
                " i -> struct(ws[i] AS w1, ws[i + 1] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    cxy = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    uni = (
        _words(load(spark, sf_dir, "documents"))
        .select(F.explode("ws").alias("wd"))
        .groupBy("wd")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_pairs = pairs.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        cxy.filter(F.col("c_xy") >= PMI_MIN_PAIR_COUNT)
        .join(uni.withColumnRenamed("wd", "w1").withColumnRenamed("c", "c_x"), "w1")
        .join(uni.withColumnRenamed("wd", "w2").withColumnRenamed("c", "c_y"), "w2")
        .join(F.broadcast(n_pairs))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log(
                    (F.col("c_xy") / F.col("c_x"))
                    * (F.col("n_total") / F.col("c_y"))
                ),
                4,
            ).alias("pmi"),
        )
    )


QUERIES = {
    "doc_token_stats": doc_token_stats,
    "doc_dsir_weights": doc_dsir_weights,
    "doc_normalize_text": doc_normalize_text,
    "doc_gopher_quality": doc_gopher_quality,
    "doc_bpe_pair_counts": doc_bpe_pair_counts,
    "doc_dup_ngram_coverage": doc_dup_ngram_coverage,
    "doc_sample_weighted": doc_sample_weighted,
    "doc_unigram_logprob": doc_unigram_logprob,
    "doc_bigram_logprob": doc_bigram_logprob,
    "doc_source_kl_divergence": doc_source_kl_divergence,
    "doc_quality_score": doc_quality_score,
    "doc_lang_id": doc_lang_id,
    "doc_exact_dedup": doc_exact_dedup,
    "doc_fingerprint": doc_fingerprint,
    "doc_winnowing": doc_winnowing,
    "doc_tfidf_top_terms": doc_tfidf_top_terms,
    "doc_ngram_jaccard_pairs": doc_ngram_jaccard_pairs,
    "doc_minhash_lsh_pairs": doc_minhash_lsh_pairs,
    "doc_minhash_calibration": doc_minhash_calibration,
    "doc_neardup_pagerank": doc_neardup_pagerank,
    "doc_edit_distance_pairs": doc_edit_distance_pairs,
    "doc_bm25_topk": doc_bm25_topk,
    "doc_sample_stratified": doc_sample_stratified,
    "doc_pack_sequences": doc_pack_sequences,
    "doc_decontaminate": doc_decontaminate,
    "doc_token_entropy": doc_token_entropy,
    "doc_simhash": doc_simhash,
    "doc_simhash_pairs": doc_simhash_pairs,
    "doc_repetition_stats": doc_repetition_stats,
    "doc_span_dedup": doc_span_dedup,
    "doc_pii_scan": doc_pii_scan,
    "doc_shard_manifest": doc_shard_manifest,
    "doc_incremental_dedup": doc_incremental_dedup,
    "doc_ingest_dedup_gate": doc_ingest_dedup_gate,
    "doc_ingest_verify_gate": doc_ingest_verify_gate,
    "doc_mix_temperature": doc_mix_temperature,
    "doc_neardup_clusters": doc_neardup_clusters,
    "doc_split_assign": doc_split_assign,
    "doc_clean_corpus": doc_clean_corpus,
    "doc_dedup_report": doc_dedup_report,
    "doc_chunk_overlap": doc_chunk_overlap,
    "doc_containment_pairs": doc_containment_pairs,
    "doc_delete_propagation": doc_delete_propagation,
    "doc_neardup_graph_stats": doc_neardup_graph_stats,
    "doc_sample_fixed_k": doc_sample_fixed_k,
    "doc_snapshot_diff": doc_snapshot_diff,
    "doc_bpe_train": doc_bpe_train,
    "doc_shuffle_order": doc_shuffle_order,
    "doc_perplexity_buckets": doc_perplexity_buckets,
    "doc_bpe_encode": doc_bpe_encode,
    "doc_neardup_triangles": doc_neardup_triangles,
    "doc_zorder_layout": doc_zorder_layout,
    "doc_collocation_pmi": doc_collocation_pmi,
    "doc_kn_logprob": doc_kn_logprob,
}


def _clusters_ctes() -> str:
    """Recursive-CTE connected components over the minhash pair graph —
    the closed-form twin of the engine's label-propagation loop."""
    return f"""
        pairs AS ({_minhash_sql()}),
        edges AS (
            SELECT da AS s, db AS d FROM pairs
            UNION
            SELECT db AS s, da AS d FROM pairs
        ),
        reach(s, d) AS (
            SELECT doc_id AS s, doc_id AS d FROM documents
            UNION
            SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
        ),
        clusters AS (
            SELECT s AS doc_id, min(d) AS cluster_id FROM reach GROUP BY s
        )
    """


def _clusters_sql() -> str:
    return f"""
        WITH RECURSIVE {_clusters_ctes()}
        SELECT doc_id, cluster_id FROM clusters
    """


def _clean_corpus_sql() -> str:
    return f"""
        WITH RECURSIVE {_clusters_ctes()},
        ex AS (
            SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id
            FROM documents GROUP BY 1
        ),
        qw AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique,
                   CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_SQL_STOPSET}))) AS BIGINT) AS n_stop
            FROM documents
        ),
        qs AS (
            SELECT doc_id,
                   0.4 * least(n_tokens / 100.0, 1.0)
                   + 0.3 * (n_unique * 1.0 / n_tokens)
                   + 0.3 * (1.0 - n_stop * 1.0 / n_tokens) AS score
            FROM qw
        ),
        q AS (
            SELECT doc_id, round(score, 4) AS quality_score,
                   CASE WHEN score >= 0.75 THEN 'high'
                        WHEN score >= 0.5 THEN 'medium'
                        ELSE 'low' END AS quality_bucket
            FROM qs
        )
        SELECT d.doc_id, q.quality_score, q.quality_bucket, c.cluster_id
        FROM documents d
        JOIN ex ON md5(d.text) = ex.text_hash AND d.doc_id = ex.canonical_doc_id
        JOIN clusters c ON c.doc_id = d.doc_id AND d.doc_id = c.cluster_id
        JOIN q ON q.doc_id = d.doc_id
        WHERE q.quality_bucket <> 'low'
    """


def _simhash_sql() -> str:
    vote_exprs = []
    for j in range(16):
        c, b = j // 4, 3 - (j % 4)
        v = (
            f"(CASE WHEN ascii(substr(md5(t), {c + 1}, 1)) <= 57 "
            f"THEN ascii(substr(md5(t), {c + 1}, 1)) - 48 "
            f"ELSE ascii(substr(md5(t), {c + 1}, 1)) - 87 END)"
        )
        bit = f"(CAST(floor({v} / {2 ** b}.0) AS BIGINT) % 2)"
        vote_exprs.append(f"CAST(sum({bit} * 2 - 1) AS BIGINT) AS s{j}")
    fp_terms = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {2 ** (15 - j)} ELSE 0 END)" for j in range(16)
    )
    return f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        ),
        votes AS (
            SELECT doc_id, {", ".join(vote_exprs)} FROM tok GROUP BY doc_id
        )
        SELECT doc_id, CAST({fp_terms} AS BIGINT) AS simhash FROM votes
    """


def _md5_unit_sql(col_expr: str, salt: str) -> str:
    """DuckDB twin of _md5_unit: first 8 md5 nibbles → [0, 1) —
    the shared `_util.hex8_int_sql` decode over the salted md5."""
    h = f"md5('{salt}' || CAST({col_expr} AS VARCHAR))"
    return f"(({hex8_int_sql(h)}) / 4294967296.0)"


def _sample_sql() -> str:
    u = _md5_unit_sql("doc_id", "samp|")
    return f"""
        WITH w AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique,
                   CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_SQL_STOPSET}))) AS BIGINT) AS n_stop
            FROM documents
        ), s AS (
            SELECT doc_id,
                   0.4 * least(n_tokens / 100.0, 1.0)
                   + 0.3 * (n_unique * 1.0 / n_tokens)
                   + 0.3 * (1.0 - n_stop * 1.0 / n_tokens) AS score
            FROM w
        ), b AS (
            SELECT doc_id,
                   CASE WHEN score >= 0.75 THEN 'high'
                        WHEN score >= 0.5 THEN 'medium'
                        ELSE 'low' END AS quality_bucket
            FROM s
        ), uu AS (SELECT doc_id, quality_bucket, {u} AS u FROM b)
        SELECT doc_id, quality_bucket, round(u, 6) AS sample_u
        FROM uu
        WHERE u < CASE quality_bucket
                      WHEN 'high' THEN {SAMPLE_RATES['high']}
                      WHEN 'medium' THEN {SAMPLE_RATES['medium']}
                      ELSE {SAMPLE_RATES['low']} END
    """


_PACK_SQL = f"""
        WITH w AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard
            FROM documents
        ), c AS (
            SELECT doc_id, shard, n_tokens,
                   sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS cum
            FROM w
        )
        SELECT doc_id, shard, n_tokens,
               CAST(cum - n_tokens AS BIGINT) AS start_offset,
               CAST(floor((cum - n_tokens) / {PACK_CAP}.0) AS BIGINT) AS first_bin,
               CAST(floor((cum - 1) / {PACK_CAP}.0) AS BIGINT) AS last_bin
        FROM c
    """


def _simhash_pairs_sql() -> str:
    """All-pairs exact Hamming baseline over the same 60-bit fingerprint
    — the oracle proves the pigeonhole blocking loses nothing."""
    vote_exprs = []
    for j in range(SIMHASH_PAIR_BITS):
        c, b = j // 4, 3 - (j % 4)
        v = (
            f"(CASE WHEN ascii(substr(md5(t), {c + 1}, 1)) <= 57 "
            f"THEN ascii(substr(md5(t), {c + 1}, 1)) - 48 "
            f"ELSE ascii(substr(md5(t), {c + 1}, 1)) - 87 END)"
        )
        bit = f"(({v} >> {b}) & 1)"
        vote_exprs.append(f"CAST(sum({bit} * 2 - 1) AS BIGINT) AS s{j}")
    fp_terms = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {2 ** (SIMHASH_PAIR_BITS - 1 - j)} ELSE 0 END)"
        for j in range(SIMHASH_PAIR_BITS)
    )
    return f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        ),
        votes AS (
            SELECT doc_id, {", ".join(vote_exprs)} FROM tok GROUP BY doc_id
        ),
        fp AS (SELECT doc_id, CAST({fp_terms} AS BIGINT) AS fp FROM votes)
        SELECT a.doc_id AS da, b.doc_id AS db,
               CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp, b.fp)) <= {SIMHASH_MAX_HAMMING}
    """


def _sql_sig_bands() -> str:
    """DuckDB twin of `_minhash_sigs` + the LSH banding: the CTEs
    ``halves`` → ``sig`` (m0..m11 per doc) → ``bands`` (doc_id, band,
    bv) over the shingle CTE ``sh``, shared by the near-dup and ingest
    oracles."""
    halves = ", ".join(
        f"substr(md5('{i}|' || s), 1, 16) AS h{2 * i}, "
        f"substr(md5('{i}|' || s), 17, 16) AS h{2 * i + 1}"
        for i in range(MINHASH_PERMS // 2)
    )
    mins = ", ".join(f"min(h{i}) AS m{i}" for i in range(MINHASH_PERMS))
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS bv FROM sig".format(
            b=b,
            concat=" || ".join(f"m{b * LSH_ROWS + r}" for r in range(LSH_ROWS)),
        )
        for b in range(LSH_BANDS)
    )
    return f"""halves AS (SELECT doc_id, {halves} FROM sh),
        sig AS (SELECT doc_id, {mins} FROM halves GROUP BY doc_id),
        bands AS ({band_selects})"""


def _minhash_ctes() -> str:
    """Shared CTE chain (shingles → signatures → bands → verified
    pairs) consumed by `_minhash_sql` and the calibration oracle."""
    return f"""{_SQL_SHINGLES},
        {_sql_sig_bands()},
        cand AS (
            SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
        ),
        inter AS (
            SELECT c.da, c.db, count(*) AS i
            FROM cand c
            JOIN sh x ON x.doc_id = c.da
            JOIN sh y ON y.doc_id = c.db AND y.s = x.s
            GROUP BY c.da, c.db
        ),
        mh_pairs AS (
            SELECT da, db, round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
            FROM inter
            JOIN cnt ca ON da = ca.doc_id
            JOIN cnt cb ON db = cb.doc_id
            WHERE i * 1.0 / (ca.n + cb.n - i) >= {LSH_VERIFY_THRESHOLD}
        )"""


def _minhash_sql() -> str:
    return f"""
        WITH {_minhash_ctes()}
        SELECT da, db, jaccard FROM mh_pairs
    """


def _minhash_calibration_sql() -> str:
    match_sum = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)"
        for i in range(MINHASH_PERMS)
    )
    return f"""
        WITH {_minhash_ctes()},
        cal AS (
            SELECT p.da, p.db, p.jaccard,
                   CAST({match_sum} AS BIGINT) AS n_match
            FROM mh_pairs p
            JOIN sig a ON a.doc_id = p.da
            JOIN sig b ON b.doc_id = p.db
        )
        SELECT da, db, n_match,
               round(n_match * 1.0 / {MINHASH_PERMS}, 4) AS est_sim,
               jaccard,
               round(abs(n_match * 1.0 / {MINHASH_PERMS} - jaccard), 4)
                   AS abs_err
        FROM cal
    """


def _ingest_gate_sql(
    salt: str = "ing|", frac: float = 0.5, verify: bool = False
) -> str:
    """Closed-form oracle for the corpus-ingest recipe gates: the
    exact/span split restates ``doc_incremental_dedup``'s oracle, the
    band-collision count reuses the shared minhash CTE construction
    (shingles → halves → signatures → bands) with a batch-vs-history
    EXISTS instead of the pair join, and the quality floor restates
    ``doc_quality_score``'s formula over the batch side.

    ``verify=True`` adds the verified-near-dup column: band-colliding
    (batch, history) pairs re-checked with exact shingle Jaccard at
    ``LSH_VERIFY_THRESHOLD`` (the ``doc_minhash_lsh_pairs`` ratio
    form, so the boundary arithmetic matches the Spark side), and the
    keep rule excludes verified near-dups — the
    ``near_dup_mode="verify"`` contract."""
    span = (
        f"SELECT doc_id, array_to_string(ws[(i * {SPAN_WORDS} + 1):"
        f"(i * {SPAN_WORDS} + {SPAN_WORDS})], ' ') AS ch "
        "FROM (SELECT doc_id, ws, unnest(range(0, CAST(ceil(len(ws) / "
        f"{SPAN_WORDS}.0) AS BIGINT))) AS i "
        "FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM {src}))"
    )
    # the shared shingle CTEs read `documents` directly — rebind the
    # name to `d`, the gate's subset ∪ sentinels (defined first in
    # the WITH chain), so candidate/Jaccard CTEs see the sentinels
    shingles = _SQL_SHINGLES.replace(
        "FROM documents", "FROM (SELECT doc_id, text FROM d)"
    )
    ndv_cte = f""",
        cand AS (
            SELECT DISTINCT bb.doc_id AS bdoc, hb.doc_id AS hdoc
            FROM bands bb
            JOIN d db ON db.doc_id = bb.doc_id
                      AND db.u < {BATCH_FRACTION}
            JOIN bands hb ON hb.band = bb.band AND hb.bv = bb.bv
            JOIN d dh ON dh.doc_id = hb.doc_id
                      AND dh.u >= {BATCH_FRACTION}
        ),
        inter AS (
            SELECT c.bdoc, c.hdoc, count(*) AS i
            FROM cand c
            JOIN sh sb ON sb.doc_id = c.bdoc
            JOIN sh shh ON shh.doc_id = c.hdoc AND shh.s = sb.s
            GROUP BY 1, 2
        ),
        ndv AS (
            SELECT DISTINCT c.bdoc AS doc_id
            FROM cand c
            JOIN inter i ON i.bdoc = c.bdoc AND i.hdoc = c.hdoc
            JOIN cnt cb ON cb.doc_id = c.bdoc
            JOIN cnt ch ON ch.doc_id = c.hdoc
            WHERE i.i * 1.0 / (cb.n + ch.n - i.i)
                  >= {LSH_VERIFY_THRESHOLD}
        )"""
    ndv_filter = (
        "AND doc_id NOT IN (SELECT doc_id FROM ndv)" if verify else ""
    )
    ndv_col = (
        "CAST((SELECT count(*) FROM ndv WHERE doc_id NOT IN "
        "(SELECT doc_id FROM ex) AND doc_id NOT IN "
        "(SELECT doc_id FROM sp)) AS BIGINT) AS near_dups_verified,"
        if verify
        else ""
    )
    return f"""
        WITH d0 AS (
            SELECT doc_id, text, {_md5_unit_sql("doc_id", "batch|")} AS u
            FROM documents
            WHERE {_md5_unit_sql("doc_id", salt)} < {frac}
        ),
        seed AS (
            SELECT doc_id, text FROM d0
            WHERE u >= {BATCH_FRACTION}
              AND len(string_split(text, ' '))
                  >= {INGEST_SENTINEL_MIN_WORDS}
            ORDER BY doc_id LIMIT 1
        ),
        d AS (
            SELECT doc_id, text, u FROM d0
            UNION ALL
            SELECT doc_id + {INGEST_SENTINEL_OFF} AS doc_id, text,
                   0.0 AS u
            FROM seed
            UNION ALL
            SELECT doc_id + {2 * INGEST_SENTINEL_OFF} AS doc_id,
                   'zulu ' || text, 0.0 AS u
            FROM seed
            UNION ALL
            SELECT doc_id + {3 * INGEST_SENTINEL_OFF} AS doc_id,
                   '{INGEST_LOWQ_TEXT}', 0.0 AS u
            FROM seed
        ),
        b AS (SELECT doc_id, text FROM d WHERE u < {BATCH_FRACTION}),
        h AS (SELECT doc_id, text FROM d WHERE u >= {BATCH_FRACTION}),
        hh AS (SELECT DISTINCT md5(text) AS mh FROM h),
        ex AS (
            SELECT DISTINCT doc_id FROM b
            WHERE md5(text) IN (SELECT mh FROM hh)
        ),
        bsp AS ({span.format(src="b")}),
        hsp AS (SELECT DISTINCT ch FROM ({span.format(src="h")})),
        sp AS (
            SELECT DISTINCT doc_id FROM bsp
            WHERE ch IN (SELECT ch FROM hsp)
        ),
        {shingles},
        {_sql_sig_bands()},
        nd AS (
            SELECT DISTINCT bb.doc_id
            FROM bands bb
            JOIN d db ON db.doc_id = bb.doc_id
                      AND db.u < {BATCH_FRACTION}
            WHERE EXISTS (
                SELECT 1 FROM bands hb
                JOIN d dh ON dh.doc_id = hb.doc_id
                          AND dh.u >= {BATCH_FRACTION}
                WHERE hb.band = bb.band AND hb.bv = bb.bv
            )
        ){ndv_cte if verify else ""},
        q AS (
            SELECT doc_id,
                   0.4 * least(n_tokens / 100.0, 1.0)
                   + 0.3 * (n_unique * 1.0 / n_tokens)
                   + 0.3 * (1.0 - n_stop * 1.0 / n_tokens) AS score
            FROM (
                SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT)
                           AS n_tokens,
                       CAST(len(list_distinct(string_split(text, ' ')))
                           AS BIGINT) AS n_unique,
                       CAST(len(list_filter(string_split(text, ' '),
                           x -> x IN ({_SQL_STOPSET}))) AS BIGINT)
                           AS n_stop
                FROM b
            )
        ),
        pass AS (
            SELECT doc_id FROM b
            WHERE doc_id NOT IN (SELECT doc_id FROM ex)
              AND doc_id NOT IN (SELECT doc_id FROM sp)
              {ndv_filter}
        ),
        lowq AS (
            SELECT p.doc_id FROM pass p
            JOIN q ON q.doc_id = p.doc_id
            WHERE q.score < {INGEST_MIN_QUALITY}
        ),
        kept AS (
            SELECT doc_id FROM pass
            WHERE doc_id NOT IN (SELECT doc_id FROM lowq)
        )
        SELECT
          CAST((SELECT count(*) FROM b) AS BIGINT) AS docs_in,
          CAST((SELECT count(*) FROM ex) AS BIGINT) AS exact_dups,
          CAST((SELECT count(*) FROM sp) AS BIGINT) AS span_dups,
          CAST((SELECT count(*) FROM nd) AS BIGINT) AS near_dups,
          {ndv_col}
          CAST((SELECT count(*) FROM lowq) AS BIGINT) AS low_quality,
          CAST((SELECT count(*) FROM kept) AS BIGINT) AS kept,
          CAST((SELECT count(*) FROM h)
               + (SELECT count(*) FROM kept) AS BIGINT) AS corpus_total,
          CAST(1 AS BIGINT) AS replay_noop
    """


def _pagerank_sql() -> str:
    """Unrolled fixed-point PageRank oracle: PR_ITERS identical CTE
    blocks over the shared minhash pair CTEs — integer nano-unit
    arithmetic, so every step matches the Spark loop bit-for-bit."""
    iters = []
    for k in range(1, PR_ITERS + 1):
        iters.append(f"""
        pr{k} AS (
            SELECT nodes.node,
                   CAST(CAST({15 * PR_SCALE} AS BIGINT) // (100 * nn.n)
                        + COALESCE(infl.inflow, 0) AS BIGINT) AS pr
            FROM nodes CROSS JOIN nn
            LEFT JOIN (
                SELECT e.d AS node,
                       sum((85 * p.pr) // (100 * dg.deg)) AS inflow
                FROM edges e
                JOIN pr{k - 1} p ON e.s = p.node
                JOIN deg dg ON dg.s = e.s
                GROUP BY e.d
            ) infl ON infl.node = nodes.node
        )""")
    return f"""
        WITH {_minhash_ctes()},
        edges AS (
            SELECT da AS s, db AS d FROM mh_pairs
            UNION ALL
            SELECT db AS s, da AS d FROM mh_pairs
        ),
        nodes AS (SELECT DISTINCT s AS node FROM edges),
        nn AS (SELECT count(*) AS n FROM nodes),
        deg AS (SELECT s, count(*) AS deg FROM edges GROUP BY s),
        pr0 AS (
            SELECT node, CAST({PR_SCALE} // nn.n AS BIGINT) AS pr
            FROM nodes, nn
        ),
        {", ".join(iters)}
        SELECT node, pr AS pr_nano,
               CAST({PR_ITERS} AS BIGINT) AS n_iters
        FROM pr{PR_ITERS}
    """


def _zorder_sql() -> str:
    mask = (1 << ZORDER_BITS) - 1
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((x // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((y // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return f"""
        WITH t AS (
            SELECT doc_id, md5('z|' || lang) AS h,
                   LEAST(n_chars // 64, {mask}) AS y0
            FROM documents
        ),
        b AS (
            SELECT doc_id,
                   {hex8_int_sql('h')} % {1 << ZORDER_BITS} AS x,
                   CAST(y0 AS BIGINT) AS y
            FROM t
        ),
        z AS (SELECT doc_id, x, y, ({' + '.join(terms)}) AS zv FROM b),
        r AS (
            SELECT x, y, zv,
                   row_number() OVER (ORDER BY zv, doc_id) AS rn
            FROM z
        )
        SELECT CAST((rn - 1) // {ZORDER_FILE_ROWS} AS BIGINT) AS file_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(zv) AS BIGINT) AS z_min,
               CAST(max(zv) AS BIGINT) AS z_max,
               CAST(min(x) AS BIGINT) AS lang_bucket_min,
               CAST(max(x) AS BIGINT) AS lang_bucket_max,
               CAST(min(y) AS BIGINT) AS size_bucket_min,
               CAST(max(y) AS BIGINT) AS size_bucket_max
        FROM r GROUP BY 1
    """


ORACLES = {
    "doc_kn_logprob": f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            WHERE len(string_split(text, ' ')) >= 2
        ),
        bg AS (
            SELECT doc_id, ws[i] AS v, ws[i + 1] AS w,
                   ws[i] || ' ' || ws[i + 1] AS b
            FROM w, unnest(range(1, len(ws))) AS t(i)
        ),
        dbg AS (
            SELECT doc_id, v, w, b, count(*) AS c FROM bg GROUP BY 1, 2, 3, 4
        ),
        cbw AS (
            SELECT b, max(v) AS bv, max(w) AS bw, sum(c) AS cbw
            FROM dbg GROUP BY 1
        ),
        cv AS (
            SELECT bv AS v, sum(cbw) AS cv, count(*) AS n1p
            FROM cbw GROUP BY 1
        ),
        cont AS (SELECT bw AS w, count(*) AS ncont FROM cbw GROUP BY 1),
        nt AS (SELECT count(*) AS nt FROM cbw)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_bigrams,
               round(CAST({_hilo_total_sql(
                   "c * ln(greatest(cbw - 0.75, 0.0) / cv"
                   " + (0.75 * n1p / cv) * (ncont * 1.0 / nt))", 9
               )} AS DOUBLE) / 1e9 / sum(c), 4) AS avg_logprob
        FROM dbg
        JOIN (SELECT b, cbw FROM cbw) USING (b)
        JOIN cv USING (v)
        JOIN cont USING (w)
        CROSS JOIN nt
        GROUP BY doc_id
    """,
    "doc_collocation_pmi": f"""
        WITH w AS (
            SELECT string_split(text, ' ') AS ws
            FROM documents WHERE len(string_split(text, ' ')) >= 2
        ), pairs AS (
            SELECT unnest(list_transform(range(1, len(ws)),
                          i -> {{'w1': ws[i], 'w2': ws[i + 1]}})) AS p
            FROM w
        ), px AS (
            SELECT p.w1 AS w1, p.w2 AS w2 FROM pairs
        ), cxy AS (
            SELECT w1, w2, count(*) AS c_xy FROM px GROUP BY 1, 2
        ), uni AS (
            SELECT unnest(ws) AS wd FROM (SELECT string_split(text, ' ') AS ws
                                          FROM documents)
        ), cu AS (
            SELECT wd, count(*) AS c FROM uni GROUP BY 1
        ), n AS (
            SELECT count(*) AS n_total FROM px
        )
        SELECT cxy.w1, cxy.w2, cxy.c_xy,
               round(ln((cxy.c_xy / ux.c) * (n.n_total / uy.c)), 4) AS pmi
        FROM cxy
        JOIN cu ux ON cxy.w1 = ux.wd
        JOIN cu uy ON cxy.w2 = uy.wd
        CROSS JOIN n
        WHERE cxy.c_xy >= {PMI_MIN_PAIR_COUNT}
    """,
    "doc_zorder_layout": _zorder_sql(),
    "doc_minhash_calibration": _minhash_calibration_sql(),
    "doc_neardup_pagerank": _pagerank_sql(),
    "doc_gopher_quality": f"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        feats AS (
            SELECT doc_id,
                   len(ws) AS n_words,
                   list_sum(list_transform(ws, x -> len(x))) * 1.0 / len(ws) AS mwl,
                   len(list_intersect(list_distinct(ws), [{_SQL_STOPSET}])) AS n_stop,
                   len(list_distinct(ws)) * 1.0 / len(ws) AS uniq_ratio
            FROM w
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               round(mwl, 4) AS mean_word_len,
               CAST(n_stop AS BIGINT) AS n_stop_distinct,
               round(uniq_ratio, 4) AS uniq_ratio,
               CAST(n_words >= {GOPHER_WC_MIN} AND n_words <= {GOPHER_WC_MAX} AS BIGINT)
                   AS pass_wordcount,
               CAST(mwl >= {GOPHER_MWL_MIN} AND mwl <= {GOPHER_MWL_MAX} AS BIGINT)
                   AS pass_meanlen,
               CAST(n_stop >= {GOPHER_MIN_STOP} AS BIGINT) AS pass_stopwords,
               CAST(uniq_ratio >= {GOPHER_MIN_UNIQ} AS BIGINT) AS pass_unique,
               CAST(n_words >= {GOPHER_WC_MIN} AND n_words <= {GOPHER_WC_MAX}
                    AND mwl >= {GOPHER_MWL_MIN} AND mwl <= {GOPHER_MWL_MAX}
                    AND n_stop >= {GOPHER_MIN_STOP}
                    AND uniq_ratio >= {GOPHER_MIN_UNIQ} AS BIGINT) AS pass_gopher
        FROM feats
    """,
    "doc_source_kl_divergence": f"""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
        ),
        st AS (SELECT source, t, count(*) AS sc FROM tok GROUP BY 1, 2),
        tf AS (SELECT t, count(*) AS cc FROM tok GROUP BY 1),
        sn AS (SELECT source, sum(sc) AS sn FROM st GROUP BY 1),
        cn AS (SELECT sum(cc) AS cn FROM tf)
        SELECT st.source,
               CAST(max(sn.sn) AS BIGINT) AS n_tokens,
               round(CAST({_hilo_total_sql(
                   "(sc * 1.0 / sn.sn) * ln((sc * 1.0 / sn.sn) / (cc * 1.0 / cn.cn))",
                   12,
               )} AS DOUBLE) / 1e12, 6)
                   AS kl_divergence
        FROM st JOIN tf USING (t) JOIN sn USING (source) CROSS JOIN cn
        GROUP BY st.source
    """,
    "doc_unigram_logprob": f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        ),
        dt AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
        tf AS (SELECT t, count(*) AS cnt FROM tok GROUP BY 1),
        n AS (SELECT count(*) AS nn FROM tok)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               round(CAST({_hilo_total_sql("c * ln(cnt * 1.0 / nn)", 9)}
                          AS DOUBLE) / 1e9 / sum(c), 4) AS avg_logprob
        FROM dt JOIN tf USING (t) CROSS JOIN n
        GROUP BY doc_id
    """,
    "doc_bigram_logprob": f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            WHERE len(string_split(text, ' ')) >= 2
        ),
        bg AS (
            SELECT doc_id, ws[i] AS v, ws[i] || ' ' || ws[i + 1] AS b
            FROM w, unnest(range(1, len(ws))) AS t(i)
        ),
        dbg AS (SELECT doc_id, v, b, count(*) AS c FROM bg GROUP BY 1, 2, 3),
        cbw AS (SELECT b, max(v) AS bv, sum(c) AS cbw FROM dbg GROUP BY 1),
        cv AS (SELECT bv AS v, sum(cbw) AS cv FROM cbw GROUP BY 1),
        vocab AS (SELECT count(*) AS vv FROM cv)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_bigrams,
               round(CAST({_hilo_total_sql(
                   "c * ln((cbw + 1) * 1.0 / (cv + vv))", 9
               )} AS DOUBLE) / 1e9 / sum(c), 4) AS avg_logprob
        FROM dbg
        JOIN (SELECT b, cbw FROM cbw) USING (b)
        JOIN cv USING (v)
        CROSS JOIN vocab
        GROUP BY doc_id
    """,
    "doc_sample_weighted": f"""
        WITH w AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique,
                   CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_SQL_STOPSET}))) AS BIGINT) AS n_stop
            FROM documents
        ), s AS (
            SELECT doc_id,
                   0.4 * least(n_tokens / 100.0, 1.0)
                   + 0.3 * (n_unique * 1.0 / n_tokens)
                   + 0.3 * (1.0 - n_stop * 1.0 / n_tokens) AS score
            FROM w
        ), k AS (
            SELECT doc_id, score,
                   pow({_md5_unit_sql("doc_id", "wsamp|")}, 1.0 / score) AS key
            FROM s
        )
        SELECT doc_id, round(score, 4) AS weight, round(key, 6) AS sample_key
        FROM k ORDER BY key DESC, doc_id ASC LIMIT {SAMPLE_WEIGHTED_K}
    """,
    "doc_dup_ngram_coverage": f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            WHERE len(string_split(text, ' ')) >= {DUP_NGRAM_N}
        ),
        g AS (
            SELECT doc_id,
                   unnest(list_distinct(
                       list_transform(range(1, len(ws) - {DUP_NGRAM_N - 2}),
                                      i -> array_to_string(ws[i:i + {DUP_NGRAM_N - 1}], ' '))
                   )) AS s
            FROM w
        ),
        dup AS (SELECT s FROM g GROUP BY s HAVING count(*) >= {DUP_MIN_DOCS}),
        tot AS (SELECT doc_id, count(*) AS n_ngrams FROM g GROUP BY doc_id),
        nd AS (
            SELECT doc_id, count(*) AS n_dup FROM g
            WHERE s IN (SELECT s FROM dup) GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(t.n_ngrams AS BIGINT) AS n_ngrams,
               CAST(coalesce(nd.n_dup, 0) AS BIGINT) AS n_dup_ngrams,
               round(coalesce(nd.n_dup, 0) * 1.0 / t.n_ngrams, 4) AS dup_ratio
        FROM tot t LEFT JOIN nd USING (doc_id)
    """,
    "doc_bpe_pair_counts": f"""
        WITH w AS (
            SELECT string_split(text, ' ') AS ws FROM documents
            WHERE len(string_split(text, ' ')) >= 2
        ),
        p AS (
            SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]))
                AS pair
            FROM w
        )
        SELECT pair, count(*) AS cnt FROM p
        GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT {BPE_TOP_K}
    """,
    "doc_containment_pairs": f"""
        WITH {_SQL_SHINGLES},
        keep AS (
            SELECT s FROM sh GROUP BY s HAVING count(*) <= {CONTAIN_DF_CAP}
        ),
        posting AS (
            SELECT sh.doc_id, sh.s FROM sh JOIN keep ON sh.s = keep.s
        ),
        inter AS (
            SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
            FROM posting a JOIN posting b
              ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT da, db,
               round(i * 1.0 / ca.n, 4) AS c_ab,
               round(i * 1.0 / cb.n, 4) AS c_ba
        FROM inter
        JOIN cnt ca ON ca.doc_id = da
        JOIN cnt cb ON cb.doc_id = db
        WHERE round(i * 1.0 / ca.n, 4) >= {CONTAIN_THRESHOLD}
           OR round(i * 1.0 / cb.n, 4) >= {CONTAIN_THRESHOLD}
    """,
    "doc_chunk_overlap": f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), c AS (
            SELECT doc_id, ws,
                   unnest(range(0, CAST(
                       1 + greatest(0, ceil((len(ws) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0))
                       AS BIGINT))) AS ci
            FROM w
        )
        SELECT doc_id,
               CAST(ci AS BIGINT) AS chunk_idx,
               CAST(len(list_slice(ws, ci * {CHUNK_STRIDE} + 1,
                                   ci * {CHUNK_STRIDE} + {CHUNK_TOKENS})) AS BIGINT)
                   AS n_tokens,
               array_to_string(list_slice(ws, ci * {CHUNK_STRIDE} + 1,
                                          ci * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ')
                   AS chunk_text
        FROM c
    """,
    "doc_token_stats": f"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(ws)) AS BIGINT) AS n_unique,
               round(list_sum(list_transform(ws, x -> len(x))) * 1.0 / len(ws), 4) AS avg_token_len,
               round(len(list_filter(ws, x -> x IN ({_SQL_STOPSET}))) * 1.0 / len(ws), 4) AS stop_ratio
        FROM w
    """,
    "doc_quality_score": f"""
        WITH w AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique,
                   CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_SQL_STOPSET}))) AS BIGINT) AS n_stop
            FROM documents
        ), s AS (
            SELECT doc_id,
                   0.4 * least(n_tokens / 100.0, 1.0)
                   + 0.3 * (n_unique * 1.0 / n_tokens)
                   + 0.3 * (1.0 - n_stop * 1.0 / n_tokens) AS score
            FROM w
        )
        SELECT doc_id, round(score, 4) AS quality_score,
               CASE WHEN score >= 0.75 THEN 'high'
                    WHEN score >= 0.5 THEN 'medium'
                    ELSE 'low' END AS quality_bucket
        FROM s
    """,
    "doc_lang_id": f"""
        WITH w AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_SQL_STOPSET}))) AS BIGINT) AS n_stop
            FROM documents
        )
        SELECT doc_id,
               round(n_stop * 1.0 / n_tokens, 4) AS stop_ratio,
               CASE WHEN n_stop * 1.0 / n_tokens >= 0.04 THEN 'en' ELSE 'und' END AS pred_lang
        FROM w
    """,
    "doc_exact_dedup": """
        SELECT md5(text) AS text_hash,
               count(*) AS n_copies,
               min(doc_id) AS canonical_doc_id
        FROM documents GROUP BY md5(text)
    """,
    "doc_tfidf_top_terms": """
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        nd AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT doc_id, term,
                   tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS tfidf
            FROM tf JOIN dft USING (term) CROSS JOIN nd
        )
        SELECT doc_id, term, rk, round(tfidf, 6) AS tfidf
        FROM (
            SELECT doc_id, term, tfidf,
                   CAST(row_number() OVER (
                       PARTITION BY doc_id ORDER BY tfidf DESC, term
                   ) AS BIGINT) AS rk
            FROM scored
        )
        WHERE rk <= 3
    """,
    "doc_fingerprint": """
        SELECT doc_id,
               md5(lower(text)) AS fingerprint,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_regex_tokens,
               n_chars
        FROM documents
    """,
    "doc_ngram_jaccard_pairs": f"""
        WITH {_SQL_SHINGLES},
        pairs AS (
            SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT da, db, round(inter * 1.0 / (ca.n + cb.n - inter), 4) AS jaccard
        FROM pairs
        JOIN cnt ca ON da = ca.doc_id
        JOIN cnt cb ON db = cb.doc_id
        WHERE inter * 1.0 / (ca.n + cb.n - inter) >= {JACCARD_THRESHOLD}
    """,
    "doc_dsir_weights": _dsir_sql(),
    "doc_normalize_text": r"""
        WITH n AS (
            SELECT doc_id, text,
                   trim(regexp_replace(
                       regexp_replace(lower(text), '[^\x20-\x7e]', ' ', 'g'),
                       ' +', ' ', 'g')) AS norm
            FROM documents
        )
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_raw,
               CAST(length(norm) AS BIGINT) AS n_chars_norm,
               md5(norm) AS norm_hash
        FROM n
    """,
    "doc_minhash_lsh_pairs": _minhash_sql(),
    "doc_bm25_topk": _bm25_sql(),
    "doc_edit_distance_pairs": f"""
        SELECT mh.da, mh.db, mh.jaccard,
               CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_distance,
               round(1.0 - levenshtein(ta.text, tb.text) * 1.0
                           / greatest(len(ta.text), len(tb.text)), 4)
                   AS edit_similarity
        FROM ({_minhash_sql()}) mh
        JOIN documents ta ON mh.da = ta.doc_id
        JOIN documents tb ON mh.db = tb.doc_id
    """,
    "doc_sample_stratified": _sample_sql(),
    "doc_pack_sequences": _PACK_SQL,
    "doc_decontaminate": f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents
            WHERE len(string_split(text, ' ')) >= {DECON_NGRAM}
        ),
        g AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, len(ws) - {DECON_NGRAM - 2}),
                       i -> {" || ' ' || ".join(f"ws[i + {k}]" for k in range(DECON_NGRAM))}
                   ))) AS g
            FROM w
        ),
        ev AS (SELECT DISTINCT g FROM g WHERE doc_id < {N_EVAL_DOCS}),
        hits AS (
            SELECT g.doc_id, count(*) AS n_hits
            FROM g JOIN ev ON g.g = ev.g
            WHERE g.doc_id >= {N_EVAL_DOCS}
            GROUP BY g.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               CAST(coalesce(h.n_hits, 0) > 0 AS BIGINT) AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id >= {N_EVAL_DOCS}
    """,
    "doc_token_entropy": """
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        ),
        tf AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS token_entropy
        FROM tf GROUP BY doc_id
    """,
    "doc_simhash": _simhash_sql(),
    "doc_simhash_pairs": _simhash_pairs_sql(),
    "doc_repetition_stats": """
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            WHERE len(string_split(text, ' ')) >= 3
        ),
        b AS (
            SELECT doc_id,
                   list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]) AS bi,
                   list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]) AS tri
            FROM w
        ),
        e AS (
            SELECT doc_id, unnest(bi) AS bg, len(bi) AS n_bi,
                   len(tri) AS n_tri, len(list_distinct(tri)) AS n_tri_d
            FROM b
        ),
        g AS (
            SELECT doc_id, bg, count(*) AS c,
                   any_value(n_bi) AS n_bi, any_value(n_tri) AS n_tri,
                   any_value(n_tri_d) AS n_tri_d
            FROM e GROUP BY doc_id, bg
        ),
        r AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bg) AS rn
            FROM g
        )
        SELECT doc_id, bg AS top_bigram,
               round(c * 1.0 / n_bi, 4) AS top_bigram_ratio,
               round(1.0 - n_tri_d * 1.0 / n_tri, 4) AS dup_trigram_ratio
        FROM r WHERE rn = 1
    """,
    "doc_span_dedup": f"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        c AS (
            SELECT doc_id, i AS chunk_idx,
                   array_to_string(ws[(i * {SPAN_WORDS} + 1):(i * {SPAN_WORDS} + {SPAN_WORDS})], ' ') AS ch
            FROM (
                SELECT doc_id, ws,
                       unnest(range(0, CAST(ceil(len(ws) / {SPAN_WORDS}.0) AS BIGINT))) AS i
                FROM w
            )
        ),
        r AS (
            SELECT doc_id, chunk_idx, ch,
                   row_number() OVER (PARTITION BY ch ORDER BY doc_id, chunk_idx) AS rn
            FROM c
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(count(*) - count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_removed,
               coalesce(string_agg(ch, ' ' ORDER BY chunk_idx) FILTER (WHERE rn = 1), '') AS clean_text
        FROM r GROUP BY doc_id
    """,
    "doc_mix_temperature": f"""
        WITH cnt AS (
            SELECT source, CAST(count(*) AS DOUBLE) AS n_s FROM documents GROUP BY source
        ),
        tot AS (SELECT sum(n_s) AS n_total FROM cnt),
        w AS (
            SELECT source, n_s, n_total, pow(n_s / n_total, {MIX_ALPHA}) AS w
            FROM cnt CROSS JOIN tot
        ),
        z AS (SELECT sum(w) AS z FROM w),
        rates AS (
            SELECT source,
                   least(1.0, (w / z) * (n_total * {MIX_TARGET_FRACTION}) / n_s) AS rate
            FROM w CROSS JOIN z
        )
        SELECT d.doc_id, d.source, round(r.rate, 6) AS rate
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE {_md5_unit_sql("d.doc_id", "mix|")} < r.rate
    """,
    "doc_ingest_dedup_gate": _ingest_gate_sql(),
    "doc_ingest_verify_gate": _ingest_gate_sql(verify=True),
    "doc_incremental_dedup": f"""
        WITH d AS (
            SELECT doc_id, text, {_md5_unit_sql("doc_id", "batch|")} AS u
            FROM documents
        ),
        b AS (SELECT doc_id, text FROM d WHERE u < {BATCH_FRACTION}),
        h AS (SELECT doc_id, text FROM d WHERE u >= {BATCH_FRACTION}),
        hh AS (SELECT DISTINCT md5(text) AS mh FROM h),
        ex AS (
            SELECT DISTINCT doc_id FROM b WHERE md5(text) IN (SELECT mh FROM hh)
        ),
        bsp AS (
            SELECT doc_id, array_to_string(ws[(i * {SPAN_WORDS} + 1):(i * {SPAN_WORDS} + {SPAN_WORDS})], ' ') AS ch
            FROM (
                SELECT doc_id, ws,
                       unnest(range(0, CAST(ceil(len(ws) / {SPAN_WORDS}.0) AS BIGINT))) AS i
                FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM b)
            )
        ),
        hsp AS (
            SELECT DISTINCT array_to_string(ws[(i * {SPAN_WORDS} + 1):(i * {SPAN_WORDS} + {SPAN_WORDS})], ' ') AS ch
            FROM (
                SELECT ws,
                       unnest(range(0, CAST(ceil(len(ws) / {SPAN_WORDS}.0) AS BIGINT))) AS i
                FROM (SELECT string_split(text, ' ') AS ws FROM h)
            )
        ),
        sp AS (
            SELECT DISTINCT doc_id FROM bsp WHERE ch IN (SELECT ch FROM hsp)
        )
        SELECT b.doc_id,
               CAST(CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS exact_dup,
               CAST(CASE WHEN sp.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS span_dup,
               CAST(CASE WHEN ex.doc_id IS NULL AND sp.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM b
        LEFT JOIN ex ON b.doc_id = ex.doc_id
        LEFT JOIN sp ON b.doc_id = sp.doc_id
    """,
    "doc_shard_manifest": f"""
        WITH d AS (
            SELECT doc_id, lang, n_chars,
                   CAST(floor({_md5_unit_sql("doc_id", "shard|")} * {N_MANIFEST_SHARDS}) AS BIGINT) AS shard,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        )
        SELECT lang, shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS min_doc_id,
               max(doc_id) AS max_doc_id
        FROM d GROUP BY lang, shard
    """,
    "doc_pii_scan": f"""
        WITH p AS (
            SELECT doc_id, source,
                   len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS n_email,
                   len(regexp_extract_all(text, '{PII_IPV4_RE}')) AS n_ipv4,
                   len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS n_phone
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_email) AS BIGINT) AS n_email,
               CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
               CAST(sum(n_phone) AS BIGINT) AS n_phone,
               CAST(sum(CASE WHEN n_email + n_ipv4 + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        FROM p GROUP BY source
    """,
    "doc_neardup_clusters": _clusters_sql(),
    "doc_split_assign": _split_assign_sql(),
    "doc_winnowing": _winnowing_sql(),
    "doc_dedup_report": _dedup_report_sql(),
    "doc_clean_corpus": _clean_corpus_sql(),
    "doc_sample_fixed_k": f"""
        WITH r AS (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY {_md5_unit_sql("doc_id", "fixk|")}, doc_id
                   ) AS sample_rank
            FROM documents
        )
        SELECT doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank
        FROM r WHERE sample_rank <= {SAMPLE_FIXED_K}
    """,
    "doc_neardup_graph_stats": f"""
        WITH pairs AS ({_minhash_sql()}),
        deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS degree
            FROM (
                SELECT da AS node FROM pairs
                UNION ALL
                SELECT db AS node FROM pairs
            ) GROUP BY node
        )
        SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY degree
    """,
    "doc_neardup_triangles": f"""
        WITH pairs AS ({_minhash_sql()}),
        tri AS (
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM pairs e1
            JOIN pairs e2 ON e1.db = e2.da
            JOIN pairs e3 ON e3.da = e1.da AND e3.db = e2.db
        ),
        deg AS (
            SELECT node, count(*) AS d
            FROM (
                SELECT da AS node FROM pairs
                UNION ALL
                SELECT db AS node FROM pairs
            ) GROUP BY node
        ),
        w AS (
            SELECT CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT)
                   AS n_wedges
            FROM deg
        )
        SELECT tri.n_triangles, w.n_wedges,
               round(CASE WHEN w.n_wedges > 0
                          THEN 3.0 * tri.n_triangles / w.n_wedges
                          ELSE 0.0 END, 6) AS clustering_coeff
        FROM tri, w
    """,
    "doc_delete_propagation": f"""
        WITH h AS (
            SELECT doc_id, source, n_chars, md5(text) AS text_hash,
                   {_md5_unit_sql("doc_id", "del|")} < {DELETE_REQUEST_RATE}
                       AS is_request
            FROM documents
        ),
        target AS (SELECT DISTINCT text_hash FROM h WHERE is_request),
        tagged AS (
            SELECT h.source, h.n_chars, h.is_request,
                   (t.text_hash IS NOT NULL) AS deleted
            FROM h LEFT JOIN target t ON h.text_hash = t.text_hash
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN is_request THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_requests,
               CAST(sum(CASE WHEN deleted THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_deleted,
               CAST(sum(CASE WHEN deleted AND NOT is_request THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_propagated,
               CAST(sum(CASE WHEN deleted THEN n_chars ELSE 0 END) AS BIGINT)
                   AS chars_deleted,
               CAST(sum(CASE WHEN NOT deleted THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept
        FROM tagged GROUP BY source
    """,
    "doc_snapshot_diff": f"""
        WITH base AS (
            SELECT doc_id, lang,
                   {_md5_unit_sql("doc_id", "snap|")} AS u,
                   {_md5_unit_sql("doc_id", "edit|")} < {SNAP_EDIT_RATE} AS ed,
                   CAST(floor({_md5_unit_sql("doc_id", "shard|")}
                              * {N_MANIFEST_SHARDS}) AS BIGINT) AS shard,
                   md5(text) AS h1,
                   md5(text || '|v2edit') AS h2e
            FROM documents
        ),
        v1 AS (
            SELECT doc_id, lang, shard, h1 AS hash_v1 FROM base
            WHERE u < {SNAP_V1_CUT}
        ),
        v2 AS (
            SELECT doc_id, lang, shard,
                   CASE WHEN ed THEN h2e ELSE h1 END AS hash_v2
            FROM base WHERE u >= {SNAP_V2_CUT}
        ),
        diff AS (
            SELECT coalesce(v1.lang, v2.lang) AS lang,
                   coalesce(v1.shard, v2.shard) AS shard,
                   CASE WHEN v1.doc_id IS NULL THEN 'added'
                        WHEN v2.doc_id IS NULL THEN 'removed'
                        WHEN hash_v1 <> hash_v2 THEN 'changed'
                        ELSE 'same' END AS cls
            FROM v1 FULL OUTER JOIN v2
              ON v1.doc_id = v2.doc_id AND v1.lang = v2.lang
                 AND v1.shard = v2.shard
        ),
        agg AS (
            SELECT lang, shard,
                   CAST(sum(CASE WHEN cls = 'added' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_added,
                   CAST(sum(CASE WHEN cls = 'removed' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_removed,
                   CAST(sum(CASE WHEN cls = 'changed' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_changed,
                   CAST(sum(CASE WHEN cls = 'same' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_same
            FROM diff GROUP BY lang, shard
        )
        SELECT lang, shard, n_added, n_removed, n_changed, n_same,
               (n_added + n_removed + n_changed > 0) AS shard_dirty
        FROM agg
    """,
    "doc_bpe_train": f"""
        WITH sampled AS (
            SELECT text FROM documents
            WHERE {_md5_unit_sql("doc_id", "bpe|")} < {BPE_TRAIN_SAMPLE}
        ),
        vocab AS (
            SELECT word, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM sampled)
            WHERE word <> '' GROUP BY word
        ),
        syms AS (
            SELECT list_append(
                       list_transform(range(1, length(word) + 1),
                                      i -> substr(word, i, 1)),
                       '</w>') AS s, cnt
            FROM vocab
        ),
        pairs AS (
            SELECT s[i] AS l, s[i + 1] AS r, sum(cnt) AS c
            FROM (SELECT s, cnt, unnest(range(1, len(s))) AS i FROM syms)
            GROUP BY s[i], s[i + 1]
        ),
        first_merge AS (
            SELECT l, r, CAST(c AS BIGINT) AS c FROM pairs
            ORDER BY c DESC, l ASC, r ASC LIMIT 1
        ),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS vocab_words,
                   CAST(coalesce(sum(cnt), 0) AS BIGINT) AS corpus_tokens
            FROM vocab
        )
        SELECT CAST({BPE_TRAIN_MERGES} AS BIGINT) AS n_merges,
               first_merge.l AS first_left,
               first_merge.r AS first_right,
               first_merge.c AS first_count,
               TRUE AS monotone_ok,
               TRUE AS counts_positive,
               stats.vocab_words,
               stats.corpus_tokens
        FROM first_merge, stats
    """,
    "doc_shuffle_order": f"""
        WITH nn AS (
            SELECT CAST(ceil(count(*) * 1.0 / {SHUFFLE_ROWS_PER_SHARD}) AS BIGINT)
                   AS n_shards
            FROM documents
        ),
        u AS (
            SELECT doc_id, {_md5_unit_sql("doc_id", "shuf|")} AS u
            FROM documents
        ),
        s AS (
            SELECT doc_id, u,
                   CAST(floor(u * nn.n_shards) AS BIGINT) AS shard
            FROM u CROSS JOIN nn
        )
        SELECT doc_id, shard,
               CAST(row_number() OVER (
                   PARTITION BY shard ORDER BY u, doc_id
               ) AS BIGINT) AS shard_pos
        FROM s
    """,
    "doc_perplexity_buckets": f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        ),
        dt AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
        tf AS (SELECT t, count(*) AS cnt FROM tok GROUP BY 1),
        n AS (SELECT count(*) AS nn FROM tok),
        lp AS (
            SELECT doc_id,
                   round(CAST({_hilo_total_sql("c * ln(cnt * 1.0 / nn)", 9)}
                              AS DOUBLE) / 1e9 / sum(c), 4) AS avg_logprob
            FROM dt JOIN tf USING (t) CROSS JOIN n
            GROUP BY doc_id
        ),
        ranked AS (
            SELECT d.doc_id, d.lang, lp.avg_logprob,
                   row_number() OVER (
                       PARTITION BY d.lang ORDER BY lp.avg_logprob, d.doc_id
                   ) AS rn,
                   count(*) OVER (PARTITION BY d.lang) AS n
            FROM documents d JOIN lp USING (doc_id)
        )
        SELECT doc_id, lang, avg_logprob,
               CASE WHEN rn * 3 > n * 2 THEN 'head'
                    WHEN rn * 3 > n THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM ranked
    """,
    "doc_bpe_encode": """
        WITH w AS (
            SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
            FROM documents
        )
        SELECT source,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_words,
               TRUE AS roundtrip_ok,
               TRUE AS compressed_ok
        FROM w WHERE word <> ''
        GROUP BY source
    """,
}
