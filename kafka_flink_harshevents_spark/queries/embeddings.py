"""Similarity search over the ``embeddings`` table (array<float> column).

- emb_knn_brute     — exact brute-force cosine top-k: the correctness
                      baseline. Queries are broadcast; candidates stream
                      through a narrow map, so the plan is embarrassingly
                      parallel (no shuffle until the tiny per-query top-k).
- emb_centroids     — per-label element-wise mean (posexplode + groupBy):
                      the building block for IVF coarse quantization.
- emb_knn_lsh       — random-hyperplane LSH bucketing: the scale path.
                      Approximate by construction → no SQL oracle (driver
                      records the rows-only check); correctness is covered
                      by the recall test in tests/test_queries.py.

All arithmetic is done in float64 (cast from the stored float32) with the
same left-to-right fold in both engines, and similarities are rounded to
6 dp before ranking so ULP noise can't reorder the top-k; ties break on
vec_id.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_harshevents_spark.queries._util import (
    _hilo_total,
    _hilo_total_sql,
    _quantize,
    load,
    spread,
)

N_QUERY_VECS = 5  # vec_id < 5 are the query vectors
TOP_K = 10
LSH_TABLES = 4  # OR-amplification: candidate if ANY table's signature matches
LSH_BITS = 4  # bits (hyperplanes) per table — 16 buckets/table
EMB_DIM = 64  # driver-generated embeddings are 64-dim at every sf


def _dot(a, b) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a) -> Column:
    return F.sqrt(_dot(a, a))


def _cos(a, b) -> Column:
    """Cosine of ``a`` and ``b``, rounded to 6 dp before anything ranks
    on it."""
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6)


def _queries(e: DataFrame, *carry: str) -> DataFrame:
    """The query vectors (vec_id < N_QUERY_VECS) as ``(qid, qemb)``,
    plus each ``carry`` column renamed ``q<name>``."""
    return e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("qemb"),
        *[F.col(c).alias(f"q{c}") for c in carry],
    )


def _top_k(pairs: DataFrame, sim: Column) -> DataFrame:
    """Per-query top-TOP_K of ``pairs`` scored by ``sim``: sim
    descending, ties on vec_id, as ``(qid, vec_id, sim, knn_rank)``."""
    ranked = pairs.select("qid", "vec_id", sim.alias("sim")).withColumn(
        "knn_rank",
        F.row_number()
        .over(Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id")))
        .cast("long"),
    )
    return ranked.filter(F.col("knn_rank") <= TOP_K)


def _all_pairs(e: DataFrame) -> DataFrame:
    """Every (query, candidate) pair: queries broadcast, candidates
    stream through one narrow pass."""
    return e.join(F.broadcast(_queries(e)), F.col("vec_id") != F.col("qid"))


def emb_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k — the ANN correctness baseline:
    queries broadcast, candidates stream through one narrow scoring
    pass, per-query top-k windows on the tiny scored side.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    return _top_k(_all_pairs(e), _cos("qemb", "emb"))


def emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise mean vector (posexplode + two-phase
    grouped aggregate) — the IVF coarse-quantizer / k-means seed
    building block; decimal partials keep the emit partitioning-exact.
    """
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select(
            F.col("label").cast("long").alias("label"),
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
        )
        .groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(
            # exact hi/lo long total of 1e-9 quantizations — per-row
            # long codegen replaces BigDecimal partials
            F.round(
                _hilo_total(_quantize(F.col("val"), 9)).cast("double")
                / 1e9
                / F.count("val"),
                6,
            ).alias("avg_val")
        )
    )


def _lsh_planes() -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes without numpy at runtime:
    a seeded LCG → Box-Muller, stable across machines."""
    state = 42

    def _next() -> float:
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        return ((state >> 11) + 1) / float((1 << 53) + 1)  # (0, 1)

    planes = []
    for _ in range(LSH_TABLES * LSH_BITS):
        row = []
        while len(row) < EMB_DIM:
            u1, u2 = _next(), _next()
            r = math.sqrt(-2.0 * math.log(u1))
            row.append(r * math.cos(2.0 * math.pi * u2))
            if len(row) < EMB_DIM:
                row.append(r * math.sin(2.0 * math.pi * u2))
        planes.append(row)
    return planes


def _lsh_buckets(e: DataFrame, *keep: str) -> DataFrame:
    """One ``(*keep, tbl, sig)`` row per vector and LSH table: the
    LSH_BITS sign bits of ``emb`` against that table's hyperplanes."""
    planes = _lsh_planes()
    table_sigs = []
    for t in range(LSH_TABLES):
        sig = None
        for b in range(LSH_BITS):
            plane = planes[t * LSH_BITS + b]
            plane_col = F.array(*[F.lit(v) for v in plane])
            bit = (_dot(F.col("emb"), plane_col) > 0).cast("long") * (2**b)
            sig = bit if sig is None else sig + bit
        table_sigs.append(F.struct(F.lit(t).alias("tbl"), sig.alias("sig")))
    return e.select(*keep, F.explode(F.array(*table_sigs)).alias("h")).select(
        *keep, F.col("h.tbl").alias("tbl"), F.col("h.sig").alias("sig")
    )


def emb_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    LSH_TABLES independent signatures of LSH_BITS sign-bits each; a vector
    is a candidate when ANY table's signature matches the query's
    (OR-amplification — raises recall exponentially in the table count).
    At 100 TB the (table, signature) equi-join replaces the all-pairs
    scan: the shuffle is keyed by signature, ~N/2^bits vectors per bucket,
    never a cross join."""
    e = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    eb = _lsh_buckets(e, "vec_id", "emb")
    cands = (
        eb.join(
            F.broadcast(_queries(eb, "tbl", "sig")),
            (F.col("tbl") == F.col("qtbl"))
            & (F.col("sig") == F.col("qsig"))
            & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", "qemb", "vec_id", "emb")
        .distinct()
    )
    return _top_k(cands, _cos("qemb", "emb"))


def _knn_lsh_oracle_sql() -> str:
    """Row-level DuckDB oracle for `emb_knn_lsh`: the hyperplanes are a
    pure function of a seeded LCG (`_lsh_planes`), so the oracle inlines
    the identical 16×64 plane constants (shortest-round-trip reprs parse
    back to the exact doubles `F.lit` ships) and replays signature →
    bucket join → cosine top-k. Both engines fold the dot product
    left-to-right over the dimension index, so the sign bits and the
    6dp sims agree bit-for-bit — the approximate index verified
    row-identically, not just by a recall floor."""
    planes = _lsh_planes()
    rows = []
    for t in range(LSH_TABLES):
        for b in range(LSH_BITS):
            arr = ", ".join(repr(v) for v in planes[t * LSH_BITS + b])
            rows.append(f"({t}, {2 ** b}, CAST([{arr}] AS DOUBLE[]))")
    values = ",\n                 ".join(rows)
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        planes(tbl, wt, p) AS (VALUES {values}),
        sigs AS (
            SELECT vec_id, tbl,
                   sum(CASE WHEN list_sum(list_transform(range(1, {EMB_DIM} + 1),
                                i -> emb[i] * p[i])) > 0
                            THEN wt ELSE 0 END) AS sig
            FROM e, planes GROUP BY vec_id, tbl
        ),
        cands AS (
            SELECT DISTINCT q.vec_id AS qid, s.vec_id AS vid
            FROM sigs s
            JOIN sigs q ON s.tbl = q.tbl AND s.sig = q.sig
                       AND s.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERY_VECS}
        ),
        pair AS (
            SELECT c.qid, c.vid AS vec_id, qe.emb AS qemb, ve.emb AS emb
            FROM cands c
            JOIN e qe ON qe.vec_id = c.qid
            JOIN e ve ON ve.vec_id = c.vid
        ),
        scored AS (SELECT qid, vec_id, {_COS} AS sim FROM pair),
        r AS (
            SELECT qid, vec_id, sim,
                   CAST(row_number() OVER (PARTITION BY qid
                                           ORDER BY sim DESC, vec_id) AS BIGINT)
                       AS knn_rank
            FROM scored
        )
        SELECT qid, vec_id, sim, knn_rank FROM r WHERE knn_rank <= {TOP_K}
    """


NEARDUP_COS = 0.4  # synthetic embeddings are near-orthogonal (max ~0.51)
IVF_NPROBE = 3  # probe the 3 nearest of the 10 label-centroids


# Above this estimated matrix size the packed-block broadcast join is no
# longer a broadcast-shaped plan; fall back to LSH signature blocking.
NEARDUP_MAX_BROADCAST_BYTES = 256 << 20
# Rows per packed block: small enough that (n/B)²/2 block pairs saturate
# the cluster (at 5k vectors → 10 blocks → 55 parallel matmul tasks),
# big enough that each matmul amortizes the Arrow/task overhead.
NEARDUP_BLOCK_ROWS = 512


def _pack_blocks(e: DataFrame, n_blocks: int) -> DataFrame:
    """Pack (vec_id, emb) rows into per-block rows carrying a normalized
    row-major matrix — built entirely executor-side (applyInPandas), so
    no vector ever crosses the driver."""
    import numpy as np
    import pandas as pd

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        m = np.array(list(pdf["emb"]), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        return pd.DataFrame(
            {"blk": [int(pdf["blk"].iloc[0])], "ids": [ids.tolist()], "mat": [m.ravel().tolist()]}
        )

    return (
        e.withColumn("blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)))
        .groupBy("blk")
        .applyInPandas(pack, schema="blk long, ids array<long>, mat array<double>")
    )


def _neardup_block_matmul(e: DataFrame, n_vecs: int) -> DataFrame:
    """Distributed block matrix multiplication: both sides are packed into
    normalized row blocks executor-side; the right side is broadcast via
    Spark's own broadcast-join machinery (never a driver collect), and
    each (i ≤ j) block pair does one BLAS matmul — ~100× the throughput
    of per-pair array folds, with only the upper block triangle computed."""
    import numpy as np
    import pandas as pd

    n_blocks = max(1, -(-n_vecs // NEARDUP_BLOCK_ROWS))
    packed = _pack_blocks(e, n_blocks)
    pairs = (
        packed.alias("a")
        .join(F.broadcast(packed.alias("b")), F.col("a.blk") <= F.col("b.blk"))
        .select(
            F.col("a.blk").alias("blk_a"),
            F.col("a.ids").alias("a_ids"),
            F.col("a.mat").alias("a_mat"),
            F.col("b.blk").alias("blk_b"),
            F.col("b.ids").alias("b_ids"),
            F.col("b.mat").alias("b_mat"),
        )
    )

    def block_sim(it):
        for pdf in it:
            for row in pdf.itertuples(index=False):
                a_ids = np.asarray(row.a_ids, dtype=np.int64)
                b_ids = np.asarray(row.b_ids, dtype=np.int64)
                a = np.asarray(row.a_mat, dtype=np.float64).reshape(len(a_ids), EMB_DIM)
                b = np.asarray(row.b_mat, dtype=np.float64).reshape(len(b_ids), EMB_DIM)
                sims = np.round(a @ b.T, 6)
                mask = sims >= NEARDUP_COS
                if row.blk_a == row.blk_b:
                    mask &= a_ids[:, None] < b_ids[None, :]
                ia, ib = np.nonzero(mask)
                va, vb = a_ids[ia], b_ids[ib]
                lo, hi = np.minimum(va, vb), np.maximum(va, vb)
                yield pd.DataFrame({"va": lo, "vb": hi, "cos_sim": sims[ia, ib]})

    return pairs.mapInPandas(block_sim, schema="va long, vb long, cos_sim double")


def _neardup_lsh_blocked(e: DataFrame) -> DataFrame:
    """Scale path for tables too big to broadcast: hyperplane-LSH
    signature blocking (same tables/planes as emb_knn_lsh). Candidates
    share any table's signature — an equi-join keyed by (tbl, sig), so
    the shuffle width is the colliding vectors only, never all pairs.
    Approximate: recall < 1 by construction (raise LSH_TABLES for more);
    every emitted pair is exact-verified against NEARDUP_COS."""
    eb = _lsh_buckets(e, "vec_id")
    cand = (
        eb.alias("a")
        .join(
            eb.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        .distinct()
    )
    ea = e.select(F.col("vec_id").alias("va"), F.col("emb").alias("aemb"))
    ebm = e.select(F.col("vec_id").alias("vb"), F.col("emb").alias("bemb"))
    return (
        cand.join(ea, "va")
        .join(ebm, "vb")
        .select("va", "vb", _cos("aemb", "bemb").alias("cos_sim"))
        .filter(F.col("cos_sim") >= NEARDUP_COS)
    )


def emb_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family): unordered
    pairs with cosine ≥ NEARDUP_COS.

    Size-guarded two-path plan: when the normalized matrix fits the same
    smallness condition a broadcast join needs, run distributed block
    matmul (`_neardup_block_matmul` — exact); above the guard, switch to
    LSH signature blocking (`_neardup_lsh_blocked` — the 100 TB path).
    The only driver-side value is the scalar row count."""
    e = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    n_vecs = e.agg(F.count(F.lit(1)).alias("n")).first()["n"]
    if n_vecs * EMB_DIM * 8 > NEARDUP_MAX_BROADCAST_BYTES:
        return _neardup_lsh_blocked(e)
    return _neardup_block_matmul(e, n_vecs)


def _ivf_probe(e: DataFrame, q: DataFrame, nprobe: int) -> DataFrame:
    """IVF coarse stage: the label centroids of ``e`` (avg per (label,
    dim), ordered by dim) and, per query, the ``nprobe`` nearest lists
    by cosine, ties on label — ``(qid, qemb, label)`` rows."""
    cent = (
        e.select("label", F.posexplode("emb").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("avgv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "avgv"))),
                lambda s: s["avgv"],
            ).alias("cemb")
        )
    )
    return (
        q.join(F.broadcast(cent))
        .select("qid", "qemb", "label", _cos("qemb", "cemb").alias("csim"))
        .withColumn(
            "pr",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.col("csim").desc(), F.col("label"))
            ),
        )
        .filter(F.col("pr") <= nprobe)
        .select("qid", "qemb", "label")
    )


def emb_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize by label centroid, probe
    the IVF_NPROBE nearest lists, exact search within them.

    Deterministic algorithm → exact SQL oracle (unlike LSH, whose planes
    are engine-side constants). At scale the candidate join is an
    equi-join on ``label``: each query touches ~nprobe/nlists of the
    data instead of all of it."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    probe = _ivf_probe(e, _queries(e), IVF_NPROBE)
    cands = e.join(F.broadcast(probe), on="label").filter(
        F.col("vec_id") != F.col("qid")
    )
    return _top_k(cands, _cos("qemb", "emb"))


def emb_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize the embedding near-dup pair graph — the same
    min-label propagation as the document path
    (``operators/graph.py::min_label_components``, loop tables ∝ pair
    graph), over the cosine pairs from ``emb_neardup_pairs``. Every
    vector maps to its component's min vec_id; singletons to themselves.
    """
    from kafka_flink_harshevents_spark.operators.graph import min_label_components

    pairs = emb_neardup_pairs(spark, sf_dir).select("va", "vb")
    labels = min_label_components(pairs, "va", "vb").select(
        F.col("node").alias("nid"), F.col("component").alias("cluster_id")
    )
    return (
        load(spark, sf_dir, "embeddings")
        .select("vec_id")
        .join(labels, F.col("vec_id") == F.col("nid"), "left")
        .select(
            "vec_id",
            F.coalesce(F.col("cluster_id"), F.col("vec_id")).alias("cluster_id"),
        )
    )


SEMDEDUP_COS = 0.35  # within-cluster sims run higher than global (max ~0.475)


def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup WITHIN coarse
    clusters — a vector is a duplicate iff some earlier vector
    (smaller vec_id) in the SAME cluster has cosine ≥ SEMDEDUP_COS.
    The `label` column stands in for the k-means cluster assignment
    (the paper's step 1; `emb_knn_ivf` builds the same centroids).

    Scale shape: groupBy(label).applyInPandas — each cluster's
    similarity matrix is one BLAS matmul over an Arrow batch, never a
    corpus-wide pair join; cluster size is bounded by the k chosen at
    clustering time (the paper's point: k scales with corpus). Rounded
    to 6 dp before thresholding, same as every cosine here, so the
    DuckDB oracle agrees at the boundary.
    """
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )

    def dedup(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        m = np.array(list(pdf["emb"]), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sims = np.round(m @ m.T, 6)
        is_dup = np.triu(sims >= SEMDEDUP_COS, 1).any(axis=0)
        return pd.DataFrame(
            {"vec_id": ids, "label": pdf["label"].to_numpy(), "is_dup": is_dup.astype(np.int64)}
        )

    return e.groupBy("label").applyInPandas(
        dedup, schema="vec_id long, label long, is_dup long"
    )


PQ_M = 8  # subspaces (64 dims → 8 dims each)
PQ_K = 16  # centroids per subspace
PQ_ITERS = 3  # Lloyd rounds (deterministic: seeded by smallest vec_ids)
PQ_SHORTLIST = 64  # ADC shortlist size before exact re-rank
PQ_SUB_DIM = EMB_DIM // PQ_M
PQ_TRAIN_CAP = 4096  # codebooks train on a bounded sample, FAISS-style


def _pq_subvectors(emb: str) -> Column:
    """``(m, sv)`` rows: the PQ_M contiguous PQ_SUB_DIM-dim subvectors
    of ``emb`` — training, encode and lookup tables split alike."""
    return F.posexplode(
        F.expr(
            f"transform(sequence(0, {PQ_M - 1}), "
            f"m -> slice({emb}, m * {PQ_SUB_DIM} + 1, {PQ_SUB_DIM}))"
        )
    ).alias("m", "sv")


def _pq_train_codebooks(e: DataFrame) -> DataFrame:
    """Deterministic per-subspace k-means (Jégou et al. 2011 product
    quantization): init = the PQ_K smallest-vec_id vectors' subvectors,
    then PQ_ITERS Lloyd rounds.

    Scale discipline: training runs on a BOUNDED sample (vec_id <
    PQ_TRAIN_CAP — the FAISS practice of training codebooks on a fixed
    subset regardless of corpus size). Because the sample is bounded,
    the whole iterative loop fits ONE Arrow-batched job: the sample
    shuffles once on the subspace index and each of the M groups runs
    every Lloyd round vectorized in numpy (init = the PQ_K
    smallest-vec_id subvectors; empty clusters keep their previous
    centroid; argmin ties break to the smallest k). Driver traffic is
    the final M*K codebook rows — nothing else leaves the executors,
    and there is no per-round job/collect round-trip at all. The rows
    come back as a local ``(m, k, cent)`` relation, so every consumer
    reads the trained codebook instead of re-running the training."""
    import numpy as np
    import pandas as pd

    sub = e.filter(F.col("vec_id") < PQ_TRAIN_CAP).select(
        "vec_id", _pq_subvectors("emb")
    )

    def train(pdf: pd.DataFrame) -> pd.DataFrame:
        m = int(pdf["m"].iloc[0])
        pdf = pdf.sort_values("vec_id")
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["sv"]])
        c = x[:PQ_K].copy()
        for _ in range(PQ_ITERS):
            d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)  # first minimum = smallest k on ties
            for k in range(PQ_K):
                members = x[a == k]
                if len(members):
                    c[k] = members.mean(axis=0)
        return pd.DataFrame(
            {"m": m, "k": range(PQ_K), "cent": [list(c[k]) for k in range(PQ_K)]}
        )

    schema = "m int, k int, cent array<double>"
    rows = sub.groupBy("m").applyInPandas(train, schema).collect()
    return e.sparkSession.createDataFrame(rows, schema)


def _pq_distances(
    df: DataFrame, emb: str, codebook: DataFrame, *keep: str
) -> DataFrame:
    """``(*keep, m, k, d2)``: the squared L2 distance from each
    subvector of ``emb`` to every centroid of its subspace, against the
    broadcast codebook (the 8 KB centroid table — never the data)."""
    d2 = F.aggregate(
        F.zip_with("sv", "cent", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        df.select(*keep, _pq_subvectors(emb))
        .join(F.broadcast(codebook), "m")
        .select(*keep, "m", "k", d2.alias("d2"))
    )


def _pq_knn(spark: SparkSession, sf_dir: str, nprobe: int | None) -> DataFrame:
    """The PQ search body of `emb_knn_pq` (``nprobe`` None: every query
    scores every code) and `emb_knn_ivfpq` (each query scores only the
    codes of its ``nprobe`` nearest IVF lists): normalize, train,
    encode, ADC over the scored codes, PQ_SHORTLIST shortlist, exact
    re-rank."""
    raw = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.col("embedding").cast("array<double>").alias("raw"),
    )
    nrm = _norm("raw")
    e = raw.select(
        "vec_id", "label", F.transform("raw", lambda x: x / nrm).alias("emb")
    )
    codebook = _pq_train_codebooks(e.select("vec_id", "emb"))
    q = _queries(e)

    # PQ encode the corpus (1 byte/subspace), once. IVF-PQ carries the
    # label through the encode aggregate (constant per vec_id, so max()
    # is exact): the probed-list restriction then joins the codes
    # directly, with no second corpus scan and no vec_id shuffle join
    carry = () if nprobe is None else ("label",)
    codes = (
        _pq_distances(e, "emb", codebook, "vec_id", *carry)
        .groupBy("vec_id", "m")
        .agg(
            F.min_by("k", F.struct("d2", "k")).alias("k"),
            *[F.max(c).alias(c) for c in carry],
        )
    )
    # per-query ADC lookup tables ||q_sub - cent||² for every (m, k):
    # the same subvector split and distance fold as the encode
    qtab = _pq_distances(q, "qemb", codebook, "qid")
    if nprobe is None:
        scored = codes.join(F.broadcast(qtab), ["m", "k"])
    else:
        # candidates come from the label equi-join against the (tiny)
        # probe table — each query's scan touches ~nprobe/nlists of
        # the code stream, the IVF win
        probe = _ivf_probe(e, q, nprobe).select("qid", "label")
        scored = codes.join(F.broadcast(probe), "label").join(
            F.broadcast(qtab), ["qid", "m", "k"]
        )
    adc = (
        scored.filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    short = (
        adc.withColumn(
            "sr",
            F.row_number().over(
                Window.partitionBy("qid").orderBy("adc_d2", "vec_id")
            ),
        )
        .filter(F.col("sr") <= PQ_SHORTLIST)
        .select("qid", "vec_id")
    )
    # exact re-rank of the shortlist only (unit vectors: dot = cosine)
    cand = short.join(e.select("vec_id", "emb"), "vec_id").join(
        F.broadcast(q), "qid"
    )
    return _top_k(cand, F.round(_dot("qemb", "emb"), 6))


def emb_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact re-rank (the FAISS
    IndexPQ + refine pipeline): train M per-subspace codebooks, encode
    every vector as M 4-bit codes, shortlist per query by asymmetric
    distance (ADC — sum of per-subspace lookup distances), then exact
    cosine re-rank of the shortlist. Vectors are L2-normalized first, so
    ADC's L2 ordering is cosine ordering and the re-ranked output is
    directly comparable to `emb_knn_brute`.

    Scale shape: training is ONE Arrow job over a bounded sample (see
    `_pq_train_codebooks`); encoding is one broadcast join (the 8 KB
    centroid table — never the data) + groupBy(vec_id, m) over n*M
    rows; the query-side ADC is a broadcast join of the code stream
    against per-query lookup tables (M*K rows/query), so the corpus is
    touched once, narrowly, at 1 byte/subspace — the compression that
    makes 100 TB ANN sit in cluster memory. (Inlining the centroids
    into the scan as a literal was tried and reverted: duplicating the
    1024-constant tree into every argmin branch blows up codegen —
    the broadcast join is both cleaner and faster.) Iterative training
    → no SQL oracle for these raw rows (driver records the rows-only
    check); the recall floor vs brute force is pinned BOTH in
    tests/test_queries.py::test_pq_recall_floor and per-round by the
    driver via the `emb_knn_pq_recall` catalog entry.
    """
    return _pq_knn(spark, sf_dir, None)


PQ_RECALL_FLOOR_NUM, PQ_RECALL_FLOOR_DEN = 1, 2  # recall ≥ 1/2, exact integers
#: IVF-PQ recall floor vs brute force — lower than the pure-PQ floor
#: by design: the coarse stage discards (nlists − nprobe)/nlists of
#: the corpus before ADC ever runs (the accuracy/speed trade the
#: billion-vector configuration makes). Exact integers, same
#: convention as PQ_RECALL_FLOOR.
IVFPQ_RECALL_FLOOR_NUM, IVFPQ_RECALL_FLOOR_DEN = 2, 5
#: the composite probes more lists than plain IVF: PQ's lossy ADC
#: ordering compounds with coarse-stage misses, and on the tiny
#: catalog corpora each list holds only a handful of vectors — FAISS
#: tunes nprobe up for IndexIVFPQ the same way
IVFPQ_NPROBE = 5


def emb_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN — the FAISS ``IndexIVFPQ`` shape (here
    with PQ over the normalized vectors, the ``by_residual=false``
    variant): coarse-quantize onto the label-centroid inverted lists
    (the ``emb_knn_ivf`` coarse stage), PQ-ADC scan ONLY the probed
    lists' codes (the ``emb_knn_pq`` codebooks and per-query lookup
    tables), then exact cosine re-rank of the shortlist. This is the
    actual billion-vector configuration: IVF bounds the fraction of
    the corpus touched (~nprobe/nlists), PQ bounds the bytes per
    touched vector (1 byte/subspace), and the re-rank restores exact
    ordering over a shortlist.

    Scale shape: training is one bounded Arrow job; encoding touches
    the corpus once (broadcast 8 KB codebook, groupBy(vec_id, m));
    the query side is an equi-join of the PROBED lists' code stream
    against broadcast per-query tables — never an all-pairs anything.
    Iterative k-means training → no SQL oracle for these raw rows; the
    machine-checked contract is ``emb_knn_ivfpq_recall``."""
    return _pq_knn(spark, sf_dir, IVFPQ_NPROBE)


def _recall_gate(
    ann: DataFrame, brute: DataFrame, num: int, den: int
) -> DataFrame:
    """1-row exact-integer recall summary of ``ann`` against ``brute``:
    (n_queries, k, floor_met) with floor_met ⇔ |ann∩brute| · den ≥
    rows · num."""
    marked = ann.select("qid", "vec_id").join(
        brute.select("qid", "vec_id").withColumn("hit", F.lit(1)),
        ["qid", "vec_id"],
        "left",
    )
    return marked.agg(
        F.count_distinct("qid").cast("long").alias("n_queries"),
        F.count(F.lit(1)).alias("n_rows"),
        # outer coalesce: sum over ZERO rows is NULL, which would make
        # the floor comparison NULL instead of the vacuous TRUE the
        # empty-corpus oracle states
        F.coalesce(F.sum(F.coalesce("hit", F.lit(0))), F.lit(0)).alias(
            "n_hits"
        ),
    ).select(
        "n_queries",
        # ANSI-safe: an empty corpus has 0 queries — emit k=0, no crash
        F.when(
            F.col("n_queries") > 0, F.col("n_rows") / F.col("n_queries")
        )
        .otherwise(0)
        .cast("long")
        .alias("k"),
        (F.col("n_hits") * F.lit(den) >= F.col("n_rows") * F.lit(num)).alias(
            "floor_met"
        ),
    )


def emb_knn_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable gate for the PQ path: a 1-row exact-arithmetic
    summary of `emb_knn_pq` against `emb_knn_brute` — (n_queries, k,
    floor_met) where floor_met ⇔ |PQ∩brute| · DEN ≥ rows · NUM, all in
    integers (no float recall value that could wobble). The DuckDB twin
    states the spec row (N_QUERY_VECS, TOP_K, TRUE), so the driver's
    hash comparison goes green exactly when the PQ pipeline returns k
    rows per query AND clears the recall floor — the property pinned in
    tests/test_queries.py::test_pq_recall_floor, now machine-checked
    per round. k-means training itself stays non-SQL (iterative), which
    is why the raw `emb_knn_pq` rows keep a rows-only check."""
    return _recall_gate(
        emb_knn_pq(spark, sf_dir),
        emb_knn_brute(spark, sf_dir),
        PQ_RECALL_FLOOR_NUM,
        PQ_RECALL_FLOOR_DEN,
    )


def emb_knn_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable gate for the IVF-PQ composite — the
    ``emb_knn_pq_recall`` convention: a 1-row exact-integer summary of
    `emb_knn_ivfpq` against `emb_knn_brute` (n_queries, k, floor_met
    with |IVFPQ∩brute| · DEN ≥ rows · NUM). The oracle states the spec
    row, so the driver goes green exactly when the composite returns k
    rows per query AND clears the recall floor."""
    return _recall_gate(
        emb_knn_ivfpq(spark, sf_dir),
        emb_knn_brute(spark, sf_dir),
        IVFPQ_RECALL_FLOOR_NUM,
        IVFPQ_RECALL_FLOOR_DEN,
    )


KMEANS_K = 8
KMEANS_ITERS = 5


KMEANS_SCALE = 10**9  # fixed-point quantization: 9 fractional digits
# ≤ this many vectors → the Lloyd loop runs on one bounded Arrow
# collect (≤ 64 MB of float64 at d=64) with the identical quantized
# kernel — int64 partial sums are associative, so the driver totals
# equal any distributed grouping bit-for-bit; above it, one
# mapInPandas pass per round (the scale path).
KMEANS_DRIVER_MAX_VECS = 131_072


def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding table — the
    clustering primitive behind SemDeDup-style semantic dedup and IVF
    list construction.

    - init: the K lowest vec_ids (deterministic, no RNG);
    - per iteration, ONE narrow Arrow ``mapInPandas`` pass: each batch
      assigns its vectors to the nearest broadcast centroid with a
      BLAS-backed squared-L2 argmin (first-min = lowest k, a total
      tie-break), then emits K partial rows of int64 fixed-point sums
      (value·10⁹, HALF_UP — the det-agg discipline in integer form).
      Int64 addition is associative, so partials reduce to the SAME
      totals under ANY partitioning: centroids, inertia and the
      assignment count are all bit-deterministic, and the driver-side
      reduce touches ≤ partitions·K tiny rows (bounded like the PQ
      codebook). Headroom: |v| < 1 → per-partition sums stay far
      below 2⁶³ up to ~10⁹ rows per partition;
    - KMEANS_ITERS fixed iterations (the production pattern: fixed
      budget + convergence metric, not open-ended looping).

    The earlier declarative form (broadcast cross-join + ``min_by`` +
    decimal aggregate) computed the same thing but re-planned the full
    expression tree every round — per-iteration driver latency
    dominated the toy-scale wall clock, and at any scale the
    vectorized kernel beats interpreted higher-order array lambdas.

    Emission is the driver-hashable gate (constant-row oracle, the
    `emb_knn_pq_recall` convention): k, n_vectors (oracle-checked
    exactly), full coverage, and strict inertia decrease from the first
    to the last assignment — true on any non-degenerate corpus, and
    machine-checked per round. Assignment/centroid details stay pinned
    by tests (determinism across runs, inertia monotonicity)."""
    import numpy as np
    import pandas as pd
    from decimal import Decimal

    e = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # one materialization: every iteration re-reads the checkpointed
    # rows instead of re-planning scan+cast, and n_total rides along
    e = e.localCheckpoint(eager=True)
    n_total = e.count()
    if 0 < n_total <= KMEANS_DRIVER_MAX_VECS:  # empty → distributed (trivial)
        # Size-guarded driver path (the graph.py / BPE rule): the
        # per-row quantization is iteration-independent and the
        # per-cluster reductions are INT64 sums (associative — any
        # grouping of rows gives the same totals), so one bounded
        # Arrow collect + the same numpy kernel returns bit-identical
        # centroids/inertia while skipping one scheduled job per Lloyd
        # round. Above the guard (≤ ~64 MB of float64 at d=64), the
        # distributed per-round mapInPandas pass below is the scale
        # path and runs unchanged. Parity pinned by
        # test_kmeans_driver_path_matches_distributed.
        pdf = e.toPandas().sort_values("vec_id")
        x = np.array(pdf["emb"].tolist(), dtype=np.float64)
        cents = x[:KMEANS_K].copy()
        xq = (np.sign(x) * np.floor(np.abs(x) * KMEANS_SCALE + 0.5)).astype(
            np.int64
        )
        inertia = []
        n_assigned = 0

        def assign(vecs, cents):
            # Chunked nearest-centroid pass: the one-shot broadcast
            # difference materializes n×k×d float64 — ~540 MB at the
            # guard max (131,072 × 8 × 64 × 8 B) — a driver-OOM hazard
            # exactly at the boundary. Row chunks keep the transient
            # at chunk×k×d = 16,384 × 8 × 64 × 8 B = 64 MB peak, with
            # per-row arithmetic IDENTICAL to the unchunked spelling
            # (each row's distances are computed independently).
            ks = np.empty(len(vecs), dtype=np.int64)
            d2 = np.empty(len(vecs), dtype=np.float64)
            step = 16_384
            for i in range(0, len(vecs), step):
                blk = (
                    (vecs[i:i + step, None, :] - cents[None, :, :]) ** 2
                ).sum(-1)
                bk = blk.argmin(1)
                ks[i:i + step] = bk
                d2[i:i + step] = blk[np.arange(len(blk)), bk]
            return ks, d2

        for it in range(KMEANS_ITERS):
            ks, d2 = assign(x, cents)
            d2q = np.floor(d2 * KMEANS_SCALE + 0.5).astype(np.int64)
            inertia.append(float(Decimal(int(d2q.sum())).scaleb(-9)))
            n_assigned = int(len(x))
            if it < KMEANS_ITERS - 1:
                new = cents.copy()
                for k in range(min(KMEANS_K, len(cents))):
                    m = ks == k
                    if m.any():
                        sq = xq[m].sum(0)
                        new[k] = (
                            np.array(
                                [float(Decimal(int(v)).scaleb(-9)) for v in sq]
                            )
                            / int(m.sum())
                        )
                cents = new
        return spark.createDataFrame(
            [
                (
                    KMEANS_K,
                    int(n_total),
                    bool(n_assigned == n_total),
                    bool(inertia[-1] <= inertia[0]),
                )
            ],
            "k long, n_vectors long, full_coverage boolean, "
            "inertia_decreased boolean",
        )
    init = e.orderBy("vec_id").limit(KMEANS_K).collect()
    cents = np.array([r["emb"] for r in init], dtype=np.float64)

    inertia = []
    n_assigned = 0
    for it in range(KMEANS_ITERS):
        centroids = cents.copy()

        def partials(batches, centroids=centroids):
            for pdf in batches:
                x = np.array(pdf["emb"].tolist(), dtype=np.float64)
                d2_all = ((x[:, None, :] - centroids[None, :, :]) ** 2).sum(-1)
                ks = d2_all.argmin(1)  # first min → lowest k on ties
                d2 = d2_all[np.arange(len(x)), ks]
                xq = (np.sign(x) * np.floor(np.abs(x) * KMEANS_SCALE + 0.5)).astype(
                    np.int64
                )
                d2q = np.floor(d2 * KMEANS_SCALE + 0.5).astype(np.int64)
                rows = [
                    (
                        int(k),
                        xq[ks == k].sum(0).tolist(),
                        int((ks == k).sum()),
                        int(d2q[ks == k].sum()),
                    )
                    for k in range(KMEANS_K)
                    if (ks == k).any()
                ]
                if rows:
                    yield pd.DataFrame(rows, columns=["k", "sq", "n", "d2q"])

        parts = e.select("emb").mapInPandas(
            partials, "k int, sq array<long>, n long, d2q long"
        ).collect()
        agg: dict[int, list] = {}
        for r in parts:
            s = agg.get(r["k"])
            if s is None:
                agg[r["k"]] = [np.array(r["sq"], dtype=np.int64), r["n"], r["d2q"]]
            else:
                s[0] = s[0] + np.array(r["sq"], dtype=np.int64)
                s[1] += r["n"]
                s[2] += r["d2q"]
        inertia.append(
            float(Decimal(int(sum(s[2] for s in agg.values()))).scaleb(-9))
        )
        n_assigned = int(sum(s[1] for s in agg.values()))
        if it < KMEANS_ITERS - 1:
            new = cents.copy()
            for k, (sq, nk, _) in agg.items():
                # exact decimal → double per dim, then one float divide
                new[k] = (
                    np.array([float(Decimal(int(v)).scaleb(-9)) for v in sq])
                    / nk
                )
            cents = new  # empty clusters keep their previous centroid
    return spark.createDataFrame(
        [
            (
                KMEANS_K,
                int(n_total),
                bool(n_assigned == n_total),
                # Lloyd's invariant is NON-INCREASE; the strict form
                # would go false (against the oracle's TRUE) whenever
                # the sequence is constant — degenerate inputs (empty
                # table, n ≤ k with zero inertia throughout) included.
                bool(inertia[-1] <= inertia[0]),
            )
        ],
        "k long, n_vectors long, full_coverage boolean, inertia_decreased boolean",
    )


PCA_K = 8


def emb_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding table — the dimensionality-
    reduction step before visualization, coarse ANN, or whitening in an
    embedding-dedup stack.

    Spark-first decomposition of the classic two-phase design (same
    shape as Spark MLlib's RowMatrix.computeCovariance):

    1. per-dim mean and second moment via ONE posexplode scan with
       decimal-exact sums (64 grouped rows — bounded collect);
    2. centered Gram matrix via ``mapInPandas`` partial sums: each
       Arrow batch contributes a d×d float64 BLAS product, each
       partition emits ONE flattened row — collect is ≤ #partitions
       rows of d² doubles, bounded by construction like the PQ
       codebook. No corpus-sized data ever reaches the driver;
    3. the d×d eigenproblem is driver-local LAPACK (d=64 — trivial).

    Emission is the driver-hashable gate (constant-row oracle, the
    `emb_kmeans` convention), because eigenvector low-order bits are
    partitioning/backend-specific: exact n_vectors, eigenvalue
    monotonicity, top-k orthonormality, the top-k variance share ≥ k/d
    (guaranteed by eigen ordering — falsified by any mis-accumulated
    Gram), and a cross-check that trace(cov) matches the INDEPENDENT
    decimal-exact per-dim variance sum from phase 1 — a wrong centering
    or a dropped partial breaks it.
    """
    import numpy as np
    import pandas as pd

    e = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    stats = (
        e.select(F.posexplode("emb").alias("pos", "v"))
        .groupBy("pos")
        .agg(
            (
                _hilo_total(_quantize(F.col("v"), 12)).cast("double")
                / 1e12
                / F.count("v")
            ).alias("m"),
            (
                _hilo_total(_quantize(F.col("v") * F.col("v"), 12)).cast(
                    "double"
                )
                / 1e12
                / F.count("v")
            ).alias("m2"),
            F.count("v").alias("n"),
        )
        .collect()
    )
    mean = np.zeros(EMB_DIM)
    m2 = np.zeros(EMB_DIM)
    for r in stats:
        mean[r["pos"]] = r["m"]
        m2[r["pos"]] = r["m2"]
    var_trace_indep = float((m2 - mean * mean).sum())

    def partial_gram(it):
        g = np.zeros((EMB_DIM, EMB_DIM))
        cnt = 0
        for pdf in it:
            x = np.array(pdf["emb"].tolist(), dtype=np.float64) - mean
            g += x.T @ x
            cnt += len(pdf)
        if cnt:
            yield pd.DataFrame({"g": [g.ravel().tolist()], "n": [cnt]})

    parts = e.select("emb").mapInPandas(
        partial_gram, "g array<double>, n long"
    ).collect()
    gram = np.zeros((EMB_DIM, EMB_DIM))
    n_vecs = 0
    # fixed partial order so the float reduce is run-to-run stable
    for r in sorted(parts, key=lambda r: (r["n"], r["g"][0])):
        gram += np.array(r["g"]).reshape(EMB_DIM, EMB_DIM)
        n_vecs += r["n"]
    if n_vecs == 0:
        # empty corpus: the gates hold vacuously (matches the oracle's
        # TRUE row with n_vectors = 0) instead of NaN-poisoning eigh
        return spark.createDataFrame(
            [(EMB_DIM, PCA_K, 0, True, True, True, True)],
            "d long, k long, n_vectors long, eigs_nonincreasing boolean, "
            "orthonormal boolean, trace_consistent boolean, "
            "var_topk_ge_uniform boolean",
        )
    cov = gram / n_vecs
    eigs, vecs = np.linalg.eigh(cov)
    eigs, vecs = eigs[::-1], vecs[:, ::-1]
    top = vecs[:, :PCA_K]
    return spark.createDataFrame(
        [
            (
                EMB_DIM,
                PCA_K,
                int(n_vecs),
                bool(np.all(eigs[:-1] >= eigs[1:] - 1e-12)),
                bool(np.abs(top.T @ top - np.eye(PCA_K)).max() < 1e-8),
                bool(abs(float(np.trace(cov)) - var_trace_indep) < 1e-6),
                bool(eigs[:PCA_K].sum() >= PCA_K / EMB_DIM * eigs.sum()),
            )
        ],
        "d long, k long, n_vectors long, eigs_nonincreasing boolean, "
        "orthonormal boolean, trace_consistent boolean, "
        "var_topk_ge_uniform boolean",
    )


INT8_LEVELS = 255


def emb_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization design table — the compression study a
    100 TB vector store runs before switching to int8 (FAISS
    ScalarQuantizer / SQ8): per dimension, the [min, max] calibration
    range and the reconstruction RMSE / worst-case error of uniform
    255-level quantization. Dimensions with outsized error get a wider
    code or stay float.

    Plan: one posexplode scan → per-dim min/max (64 groups) → the SAME
    exploded values re-join the 64-row stats broadcast-side → per-dim
    error rollup. Quantization uses ``floor(x + 0.5)`` rather than
    round() so both engines take the identical half-up branch at code
    boundaries.
    """
    ex = load(spark, sf_dir, "embeddings").select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("p", "v")
    ).select(F.col("p").cast("long").alias("pos"), "v")
    stats = ex.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    j = ex.join(F.broadcast(stats), "pos")
    rng = F.col("mx") - F.col("mn")
    code = F.when(
        rng > 0,
        F.floor((F.col("v") - F.col("mn")) / rng * INT8_LEVELS + F.lit(0.5)),
    ).otherwise(F.lit(0.0))
    recon = F.col("mn") + code * rng / INT8_LEVELS
    err = F.col("v") - recon
    return j.groupBy("pos").agg(
        F.round(F.min("v"), 6).alias("mn"),
        F.round(F.max("v"), 6).alias("mx"),
        F.round(
            F.sqrt(
                _hilo_total(_quantize(err * err, 12)).cast("double")
                / 1e12
                / F.count(F.lit(1))
            ),
            6,
        ).alias("rmse"),
        F.round(F.max(F.abs(err)), 6).alias("max_abs_err"),
    )


def emb_knn_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN over SQ8 scalar-quantized vectors — the third ANN compression
    family next to PQ and LSH (FAISS ScalarQuantizer): per-dim [min,max]
    calibration (the `emb_quantize_stats` table), every vector encoded
    to 255-level codes and DEQUANTIZED for the distance pass, exact
    top-k on the reconstructed vectors. Unlike PQ (trained codebooks →
    engine-specific) the SQ8 reconstruction is a closed-form expression
    of the data, so this entry is FULLY row-oracled: both engines build
    bit-identical reconstructed vectors (floor(x+0.5) half-up at code
    boundaries, same convention as `emb_quantize_stats`) and the same
    top-k with vec_id tie-break.

    Scale shape: calibration is a 64-row aggregate collected driver-side
    (the bounded-collect convention — one row per dimension at ANY
    corpus size) and re-entered as literal arrays, so the encode +
    dequant + distance pass is entirely scan-local; at deployment the
    int8 codes are what's STORED (4× less scan IO than float32 — the
    point of SQ8), and the shortlist/re-rank pattern of `emb_knn_pq`
    applies on top unchanged."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    stats = (
        e.select(F.posexplode("emb").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    mn = F.array(*[F.lit(float(r["mn"])) for r in stats])
    rng = F.array(*[F.lit(float(r["mx"] - r["mn"])) for r in stats])
    # dequantized vector, elementwise: mn + floor((x-mn)/rng*255+0.5)*rng/255
    # (rng == 0 dims reconstruct to mn exactly, matching the oracle CASE)
    idx = F.sequence(F.lit(0), F.lit(len(stats) - 1))
    def _recon(col):
        return F.transform(
            idx,
            lambda i: F.when(
                F.element_at(rng, i + 1) > 0,
                F.element_at(mn, i + 1)
                + F.floor(
                    (F.element_at(col, i + 1) - F.element_at(mn, i + 1))
                    / F.element_at(rng, i + 1)
                    * INT8_LEVELS
                    + F.lit(0.5)
                )
                * F.element_at(rng, i + 1)
                / INT8_LEVELS,
            ).otherwise(F.element_at(mn, i + 1)),
        )
    re_ = e.select("vec_id", _recon(F.col("emb")).alias("emb"))
    return _top_k(_all_pairs(re_), _cos("qemb", "emb"))


MRL_TRUNC_DIM = 8  # matryoshka truncation prefix length


def emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector preprocessing for retrieval/training: per-vector L2
    normalization plus matryoshka-style truncation diagnostics
    (Kusupati et al. 2022) — how much of each vector's norm the first
    MRL_TRUNC_DIM dimensions retain, and a checksum of the normalized
    prefix. Entirely scan-local (one array fold per emission, the
    `_COS` left-to-right convention), zero shuffle — the shape that is
    a pure map stage over 100 TB of vectors. Scalar emissions keep the
    row driver-hashable (array columns stringify differently across
    engines)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    norm = _norm("emb")
    prefix = F.slice("emb", 1, MRL_TRUNC_DIM)
    prefix_norm = F.sqrt(
        F.aggregate(prefix, F.lit(0.0), lambda a, x: a + x * x)
    )
    checksum = F.aggregate(prefix, F.lit(0.0), lambda a, x: a + x) / norm
    return e.select(
        "vec_id",
        F.round(norm, 6).alias("l2_norm"),
        F.round(
            F.when(norm > 0, prefix_norm / norm).otherwise(F.lit(0.0)), 6
        ).alias("trunc_norm_ratio"),
        F.round(
            F.when(norm > 0, checksum).otherwise(F.lit(0.0)), 6
        ).alias("prefix_checksum"),
    )


OUTLIER_MD2_MEAN = 1.02  # per-dim-mean z² flag line (≈1.0 for in-dist data)


def emb_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier scoring — the curation filter that drops
    out-of-distribution vectors before contrastive/retrieval training
    (the diagonal-covariance Mahalanobis distance of OOD-detection
    practice, Lee et al. 2018 simplified to per-dim variances): per
    vector, mean over dimensions of ``(x_d − μ_d)² / σ²_d``; in-
    distribution data scores ≈ 1.

    Plan/scale shape: ONE posexplode pass → 64-group aggregate (map-side
    combine; decimal sums so μ/σ² are partitioning-exact) → the 64-row
    stats table collapses to ONE row of (μ, σ²) arrays and broadcasts;
    scoring is then a scan-local array fold per vector — zero shuffle of
    the vector table, the shape that holds at any corpus size. The fold
    is left-to-right in both engines (the `_COS` convention), so the
    6-dp scores are bit-stable.
    """
    e = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    ex = e.select(
        F.posexplode("emb").alias("p", "v")
    ).select(F.col("p").cast("long").alias("pos"), "v")
    stats = ex.groupBy("pos").agg(
        (
            _hilo_total(_quantize(F.col("v"), 9)).cast("double")
            / 1e9
            / F.count("v")
        ).alias("mu"),
        (
            _hilo_total(_quantize(F.col("v") * F.col("v"), 12)).cast(
                "double"
            )
            / 1e12
            / F.count("v")
        ).alias("ex2"),
    )
    arrs = (
        stats.select(
            "pos", "mu", (F.col("ex2") - F.col("mu") * F.col("mu")).alias("var")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mu"))),
                lambda s: s["mu"],
            ).alias("mu_arr"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "var"))),
                lambda s: s["var"],
            ).alias("var_arr"),
        )
    )
    diff2 = F.zip_with("emb", "mu_arr", lambda x, m: (x - m) * (x - m))
    terms = F.zip_with(
        diff2, F.col("var_arr"),
        lambda d, v: F.when(v > 0, d / v).otherwise(F.lit(0.0)),
    )
    md2 = (
        F.aggregate(terms, F.lit(0.0), lambda a, x: a + x) / F.lit(float(EMB_DIM))
    )
    return (
        e.join(F.broadcast(arrs))
        .select(
            "vec_id",
            F.round(md2, 6).alias("md2_mean"),
            (md2 > OUTLIER_MD2_MEAN).alias("is_outlier"),
        )
    )


MRL_DIMS = (16, 32)  # matryoshka prefix lengths evaluated against full-64


def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka retrieval evaluation (Kusupati et al. 2022, MRL): how
    much of the full-dimension top-k survives when queries run on a
    16- or 32-dim PREFIX of the 64-dim embedding — the measurement
    behind serving truncated vectors (4× less IO and memory bandwidth
    per scan at 100 TB) and behind `emb_normalize`'s truncation
    diagnostics. Unlike the LSH/PQ entries this is exact arithmetic on
    both sides, so the per-query overlap counts are fully row-oracled
    (6-dp similarity rounding before ranking + vec_id tie-break, the
    `emb_knn_brute` convention).

    Scale shape: same plan as the brute baseline — queries broadcast,
    one narrow pass computes all three similarities per candidate, the
    three rank windows share the per-qid exchange, and the rollup is a
    5-row aggregate. The full-dim column doubles as the baseline: no
    second scan of the table.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )

    def sim_at(d: int | None) -> Column:
        qe = F.col("qemb") if d is None else F.slice("qemb", 1, d)
        ce = F.col("emb") if d is None else F.slice("emb", 1, d)
        return _cos(qe, ce)

    scored = _all_pairs(e).select(
        "qid",
        "vec_id",
        sim_at(None).alias("s64"),
        *[sim_at(d).alias(f"s{d}") for d in MRL_DIMS],
    )
    w = lambda c: Window.partitionBy("qid").orderBy(  # noqa: E731
        F.col(c).desc(), F.col("vec_id")
    )
    ranked = scored.select(
        "qid",
        F.row_number().over(w("s64")).alias("r64"),
        *[
            F.row_number().over(w(f"s{d}")).alias(f"r{d}")
            for d in MRL_DIMS
        ],
    )
    aggs = [
        F.sum(
            ((F.col("r64") <= TOP_K) & (F.col(f"r{d}") <= TOP_K)).cast("int")
        )
        .cast("long")
        .alias(f"n_overlap_{d}")
        for d in MRL_DIMS
    ]
    return (
        ranked.groupBy("qid")
        .agg(*aggs)
        .select(
            "qid",
            F.lit(TOP_K).cast("long").alias("k"),
            *[f"n_overlap_{d}" for d in MRL_DIMS],
        )
    )


QUERIES = {
    "emb_knn_brute": emb_knn_brute,
    "emb_knn_sq8": emb_knn_sq8,
    "emb_outlier_scores": emb_outlier_scores,
    "emb_normalize": emb_normalize,
    "emb_centroids": emb_centroids,
    "emb_quantize_stats": emb_quantize_stats,
    "emb_knn_lsh": emb_knn_lsh,
    "emb_neardup_pairs": emb_neardup_pairs,
    "emb_neardup_clusters": emb_neardup_clusters,
    "emb_knn_ivf": emb_knn_ivf,
    "emb_semantic_dedup": emb_semantic_dedup,
    # emb_knn_pq: iterative k-means training → intentionally no SQL
    # oracle for the raw rows; emb_knn_pq_recall is the driver-hashable
    # gate (exact-integer recall floor vs brute force). emb_knn_lsh is
    # fully deterministic, so it gets a row-level oracle with the
    # hyperplane constants inlined (_knn_lsh_oracle_sql).
    "emb_knn_pq": emb_knn_pq,
    "emb_knn_pq_recall": emb_knn_pq_recall,
    "emb_knn_ivfpq": emb_knn_ivfpq,
    "emb_knn_ivfpq_recall": emb_knn_ivfpq_recall,
    "emb_kmeans": emb_kmeans,
    "emb_pca": emb_pca,
    "emb_matryoshka_recall": emb_matryoshka_recall,
}


def _cos_at_sql(d: int | None) -> str:
    """DuckDB cosine over the first ``d`` list elements (full list when
    None) — the `_COS` expression generalized to prefixes."""
    qe = "qemb" if d is None else f"qemb[1:{d}]"
    ce = "emb" if d is None else f"emb[1:{d}]"
    return f"""
            round(
                list_sum(list_transform(range(1, len({ce}) + 1), i -> {qe}[i] * {ce}[i]))
                / (sqrt(list_sum(list_transform(range(1, len({qe}) + 1), i -> {qe}[i] * {qe}[i])))
                 * sqrt(list_sum(list_transform(range(1, len({ce}) + 1), i -> {ce}[i] * {ce}[i])))),
            6)
    """

_COS = """
            round(
                list_sum(list_transform(range(1, len(emb) + 1), i -> qemb[i] * emb[i]))
                / (sqrt(list_sum(list_transform(range(1, len(qemb) + 1), i -> qemb[i] * qemb[i])))
                 * sqrt(list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i])))),
            6)
"""

ORACLES = {
    "emb_matryoshka_recall": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings),
        q AS (SELECT vec_id AS qid, emb AS qemb FROM e
              WHERE vec_id < {N_QUERY_VECS}),
        p AS (
            SELECT qid, vec_id,
                   {_cos_at_sql(None)} AS s64,
                   {_cos_at_sql(16)} AS s16,
                   {_cos_at_sql(32)} AS s32
            FROM q, e WHERE vec_id <> qid
        ),
        r AS (
            SELECT qid,
                   row_number() OVER (PARTITION BY qid
                       ORDER BY s64 DESC, vec_id) AS r64,
                   row_number() OVER (PARTITION BY qid
                       ORDER BY s16 DESC, vec_id) AS r16,
                   row_number() OVER (PARTITION BY qid
                       ORDER BY s32 DESC, vec_id) AS r32
            FROM p
        )
        SELECT qid, CAST({TOP_K} AS BIGINT) AS k,
               CAST(sum(CASE WHEN r64 <= {TOP_K} AND r16 <= {TOP_K}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap_16,
               CAST(sum(CASE WHEN r64 <= {TOP_K} AND r32 <= {TOP_K}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap_32
        FROM r GROUP BY qid
    """,
    "emb_knn_lsh": _knn_lsh_oracle_sql(),
    "emb_normalize": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        s AS (
            SELECT vec_id,
                   sqrt(list_sum(list_transform(range(1, {EMB_DIM} + 1),
                                                i -> emb[i] * emb[i]))) AS nrm,
                   sqrt(list_sum(list_transform(range(1, {MRL_TRUNC_DIM} + 1),
                                                i -> emb[i] * emb[i]))) AS pn,
                   list_sum(list_transform(range(1, {MRL_TRUNC_DIM} + 1),
                                           i -> emb[i])) AS ps
            FROM e
        )
        SELECT vec_id,
               round(nrm, 6) AS l2_norm,
               round(CASE WHEN nrm > 0 THEN pn / nrm ELSE 0.0 END, 6)
                   AS trunc_norm_ratio,
               round(CASE WHEN nrm > 0 THEN ps / nrm ELSE 0.0 END, 6)
                   AS prefix_checksum
        FROM s
    """,
    "emb_outlier_scores": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        ex AS (SELECT vec_id, i AS pos, emb[i] AS v
               FROM e CROSS JOIN range(1, {EMB_DIM} + 1) AS t(i)),
        stats AS (
            SELECT pos,
                   CAST({_hilo_total_sql("v", 9)} AS DOUBLE)
                       / 1000000000.0 / count(v) AS mu,
                   CAST({_hilo_total_sql("v * v", 12)} AS DOUBLE)
                       / 1000000000000.0 / count(v) AS ex2
            FROM ex GROUP BY pos
        ),
        s2 AS (SELECT pos, mu, ex2 - mu * mu AS var FROM stats),
        arrs AS (SELECT list(mu ORDER BY pos) AS mu_arr,
                        list(var ORDER BY pos) AS var_arr FROM s2),
        scored AS (
            SELECT vec_id,
                   list_sum(list_transform(range(1, {EMB_DIM} + 1),
                       i -> CASE WHEN var_arr[i] > 0
                                 THEN (emb[i] - mu_arr[i]) * (emb[i] - mu_arr[i])
                                      / var_arr[i]
                                 ELSE 0.0 END)) / {EMB_DIM}.0 AS md2
            FROM e, arrs
        )
        SELECT vec_id, round(md2, 6) AS md2_mean,
               md2 > {OUTLIER_MD2_MEAN} AS is_outlier
        FROM scored
    """,
    "emb_knn_pq_recall": f"""
        SELECT CASE WHEN (SELECT count(*) FROM embeddings) = 0
                    THEN CAST(0 AS BIGINT)
                    ELSE CAST({N_QUERY_VECS} AS BIGINT) END AS n_queries,
               CASE WHEN (SELECT count(*) FROM embeddings) = 0
                    THEN CAST(0 AS BIGINT)
                    ELSE CAST({TOP_K} AS BIGINT) END AS k,
               TRUE AS floor_met
    """,
    # emb_knn_ivfpq itself stays rows-only (iterative PQ training, the
    # emb_knn_pq rule); its hashable contract is this spec row
    "emb_knn_ivfpq_recall": f"""
        SELECT CASE WHEN (SELECT count(*) FROM embeddings) = 0
                    THEN CAST(0 AS BIGINT)
                    ELSE CAST({N_QUERY_VECS} AS BIGINT) END AS n_queries,
               CASE WHEN (SELECT count(*) FROM embeddings) = 0
                    THEN CAST(0 AS BIGINT)
                    ELSE CAST({TOP_K} AS BIGINT) END AS k,
               TRUE AS floor_met
    """,
    "emb_kmeans": f"""
        SELECT CAST({KMEANS_K} AS BIGINT) AS k,
               CAST(count(*) AS BIGINT) AS n_vectors,
               TRUE AS full_coverage,
               TRUE AS inertia_decreased
        FROM embeddings
    """,
    "emb_pca": f"""
        SELECT CAST({EMB_DIM} AS BIGINT) AS d,
               CAST({PCA_K} AS BIGINT) AS k,
               CAST(count(*) AS BIGINT) AS n_vectors,
               TRUE AS eigs_nonincreasing,
               TRUE AS orthonormal,
               TRUE AS trace_consistent,
               TRUE AS var_topk_ge_uniform
        FROM embeddings
    """,
    "emb_knn_sq8": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        x AS (
            SELECT vec_id, i, emb[i] AS v
            FROM e, range(1, {EMB_DIM + 1}) t(i)
        ),
        s AS (SELECT i, min(v) AS mn, max(v) AS mx FROM x GROUP BY 1),
        rv AS (
            SELECT x.vec_id, x.i,
                   CASE WHEN s.mx > s.mn
                        THEN s.mn + floor((x.v - s.mn) / (s.mx - s.mn)
                                          * {INT8_LEVELS} + 0.5)
                             * (s.mx - s.mn) / {INT8_LEVELS}
                        ELSE s.mn END AS rval
            FROM x JOIN s USING (i)
        ),
        re AS (SELECT vec_id, list(rval ORDER BY i) AS emb FROM rv GROUP BY vec_id),
        q AS (SELECT vec_id AS qid, emb AS qemb FROM re WHERE vec_id < {N_QUERY_VECS}),
        p AS (
            SELECT qid, vec_id, {_COS} AS sim
            FROM q, re WHERE vec_id <> qid
        ),
        r AS (
            SELECT qid, vec_id, sim,
                   CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS BIGINT) AS knn_rank
            FROM p
        )
        SELECT qid, vec_id, sim, knn_rank FROM r WHERE knn_rank <= {TOP_K}
    """,
    "emb_knn_brute": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < {N_QUERY_VECS}),
        p AS (
            SELECT qid, vec_id, {_COS} AS sim
            FROM q, e WHERE vec_id <> qid
        ),
        r AS (
            SELECT qid, vec_id, sim,
                   CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS BIGINT) AS knn_rank
            FROM p
        )
        SELECT qid, vec_id, sim, knn_rank FROM r WHERE knn_rank <= {TOP_K}
    """,
    "emb_centroids": f"""
        WITH e AS (SELECT CAST(label AS BIGINT) AS label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        SELECT label, CAST(i - 1 AS BIGINT) AS pos,
               round(CAST({_hilo_total_sql("emb[i]", 9)} AS DOUBLE)
                     / 1000000000.0 / count(emb[i]), 6) AS avg_val
        FROM e, range(1, {EMB_DIM + 1}) t(i)
        GROUP BY label, i - 1
    """,
    "emb_quantize_stats": f"""
        WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        x AS (
            SELECT CAST(i - 1 AS BIGINT) AS pos, emb[i] AS v
            FROM e, range(1, {EMB_DIM + 1}) t(i)
        ),
        s AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM x GROUP BY 1)
        SELECT x.pos,
               round(s.mn, 6) AS mn,
               round(s.mx, 6) AS mx,
               round(sqrt(CAST({_hilo_total_sql(
                   f"pow(v - (s.mn"
                   f" + (CASE WHEN s.mx > s.mn"
                   f" THEN floor((v - s.mn) / (s.mx - s.mn) * {INT8_LEVELS} + 0.5)"
                   f" ELSE 0 END) * (s.mx - s.mn) / {INT8_LEVELS}), 2)", 12)}
                   AS DOUBLE) / 1000000000000.0 / count(*)), 6)
                   AS rmse,
               round(max(abs(v - (s.mn
                   + (CASE WHEN s.mx > s.mn
                           THEN floor((v - s.mn) / (s.mx - s.mn) * {INT8_LEVELS} + 0.5)
                           ELSE 0 END) * (s.mx - s.mn) / {INT8_LEVELS}))), 6)
                   AS max_abs_err
        FROM x JOIN s USING (pos)
        GROUP BY x.pos, s.mn, s.mx
    """,
    "emb_neardup_pairs": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        p AS (
            SELECT a.vec_id AS va, b.vec_id AS vb,
                   round(
                       list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * b.emb[i]))
                       / (sqrt(list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * a.emb[i])))
                        * sqrt(list_sum(list_transform(range(1, len(b.emb) + 1), i -> b.emb[i] * b.emb[i])))),
                   6) AS cos_sim
            FROM e a, e b
            WHERE a.vec_id < b.vec_id
        )
        SELECT va, vb, cos_sim FROM p WHERE cos_sim >= {NEARDUP_COS}
    """,
    "emb_neardup_clusters": f"""
        WITH RECURSIVE e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        ),
        p AS (
            SELECT a.vec_id AS va, b.vec_id AS vb,
                   round(
                       list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * b.emb[i]))
                       / (sqrt(list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * a.emb[i])))
                        * sqrt(list_sum(list_transform(range(1, len(b.emb) + 1), i -> b.emb[i] * b.emb[i])))),
                   6) AS cos_sim
            FROM e a, e b
            WHERE a.vec_id < b.vec_id
        ),
        pairs AS (SELECT va, vb FROM p WHERE cos_sim >= {NEARDUP_COS}),
        edges AS (
            SELECT va AS s, vb AS d FROM pairs
            UNION
            SELECT vb AS s, va AS d FROM pairs
        ),
        reach(s, d) AS (
            SELECT vec_id AS s, vec_id AS d FROM embeddings
            UNION
            SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s
        )
        SELECT s AS vec_id, min(d) AS cluster_id FROM reach GROUP BY s
    """,
    "emb_knn_ivf": f"""
        WITH e AS (
            SELECT vec_id, CAST(label AS BIGINT) AS label,
                   CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings
        ),
        cd AS (
            SELECT label, i, avg(emb[i]) AS avgv
            FROM e, range(1, {EMB_DIM + 1}) t(i)
            GROUP BY label, i
        ),
        c AS (
            SELECT label, array_agg(avgv ORDER BY i) AS cemb FROM cd GROUP BY label
        ),
        q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < {N_QUERY_VECS}),
        qc AS (
            SELECT qid, qemb, label,
                   round(
                       list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> qemb[i] * cemb[i]))
                       / (sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> qemb[i] * qemb[i])))
                        * sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> cemb[i] * cemb[i])))),
                   6) AS csim
            FROM q, c
        ),
        probe AS (
            SELECT qid, qemb, label
            FROM (
                SELECT qid, qemb, label,
                       row_number() OVER (PARTITION BY qid ORDER BY csim DESC, label) AS pr
                FROM qc
            ) WHERE pr <= {IVF_NPROBE}
        ),
        cand AS (
            SELECT p.qid, p.qemb, e.vec_id, e.emb
            FROM probe p JOIN e ON e.label = p.label
            WHERE e.vec_id <> p.qid
        ),
        r AS (
            SELECT qid, vec_id, {_COS} AS sim,
                   CAST(row_number() OVER (
                       PARTITION BY qid
                       ORDER BY {_COS} DESC, vec_id
                   ) AS BIGINT) AS knn_rank
            FROM cand
        )
        SELECT qid, vec_id, sim, knn_rank FROM r WHERE knn_rank <= {TOP_K}
    """,
    "emb_semantic_dedup": f"""
        WITH e AS (
            SELECT vec_id, CAST(label AS BIGINT) AS label,
                   CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings
        )
        SELECT a.vec_id, a.label,
               CAST(CASE WHEN count(b.vec_id) > 0 THEN 1 ELSE 0 END AS BIGINT) AS is_dup
        FROM e a LEFT JOIN e b
          ON a.label = b.label AND b.vec_id < a.vec_id
         AND round(
                 list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * b.emb[i]))
                 / (sqrt(list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * a.emb[i])))
                  * sqrt(list_sum(list_transform(range(1, len(b.emb) + 1), i -> b.emb[i] * b.emb[i])))),
             6) >= {SEMDEDUP_COS}
        GROUP BY a.vec_id, a.label
    """,
}
