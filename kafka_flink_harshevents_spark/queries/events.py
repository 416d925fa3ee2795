"""Reference-parity analytics on the ``events`` stream table.

Each query is the batch twin of a streaming operator from SURVEY.md §2,
re-targeted at the driver's `events` table (event_id, ts, user_id,
event_type, value, props):

- ev_type_counts       — A1 grouped counter (kafkaConsumer.js:229-233)
- ev_sessionize_300s   — O9 session consolidation, 300 s inactivity gap
                         (kafkaConsumer.js:43,278-347), lag/gap/cumsum form
- ev_hourly_tumbling   — T2 tumbling-window aggregation
- ev_percentile_stats  — A2 order statistics with the reference's exact
                         inverse-CDF percentile sorted[floor(n*q)]
                         (mqtt_publish.js:84-97)
- ev_histogram         — A3 histogram binning (visualization.py:36)
- ev_props_extract     — P11 JSON field extraction, JVM-side
- ev_threshold_classify— F10 threshold-derivation rule
                         (mqtt_publish.js:193-208) generalized
- ev_user_topk         — top-k limit (README.md:108 find().limit shape)

Scale notes: sessionization and the percentile query are the only wide
ops; sessions shuffle ONCE on user_id, and the exact percentile uses the
distributed bucketed rank (operators/ranking.py) — no unpartitioned
Window anywhere. At 100 TB the exact-percentile query would switch to
``percentile_approx`` — kept exact here to match the reference's
definition bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_harshevents_spark.operators.ranking import with_exact_rank
from kafka_flink_harshevents_spark.queries._util import (
    det_avg,
    det_avg_sql,
    det_sum,
    det_sum_over,
    det_sum_over_sql,
    det_sum_sql,
    hex8_int_sql,
    load,
    ts_millis,
)

SESSION_GAP_MS = 300_000  # SESSION_TTL 300 s, kafkaConsumer.js:43


def ev_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 grouped counters (kafkaConsumer.js:229-233): per-type event
    count and det-sum total — the reference's Redis counter family as
    one two-phase aggregate.
    """
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        det_sum("value", 2).alias("total_value"),
    )


HLL_REL_ERROR = 0.05  # accuracy gate for the sketch path
# HLL++ relative standard deviation the sketch runs at. It sits well
# under the gate: at rsd 0.05 the gate was one standard deviation wide,
# and at sf0.1 (1,500 distinct users per type) the estimate missed by
# 6.7%; rsd 0.01 misses by 0.47% there.
HLL_RSD = 0.01

KMV_K = 64  # k-minimum-values sketch size (stderr ≈ 1/√(k−2) ≈ 12.7%)
KMV_SALTS = 64  # pre-aggregation fan-in bound for the two-phase top-k


def kmv_sketch(dist: DataFrame, key_col: str, val_col: str) -> DataFrame:
    """KMV sketch state per ``key_col`` group over an already-distinct
    ``(key, value)`` frame: ``(key, arr, n_exact)`` with ``arr`` = the
    k lexicographically smallest ``md5('kmv|' || value)`` hashes.

    Per-salt k-smallest is a WINDOW rank, not collect_list: a
    collect_list-then-slice aggregate buffers the salt group's ENTIRE
    distinct hash set in one agg buffer before truncating — an executor
    OOM at real cardinalities. The window's sort spills to disk
    (bounded memory) and only ≤ k rows per salt survive into any
    aggregation buffer; the same pass carries the salt's full count on
    its rank-1 row so the exact count needs no second shuffle. Shared
    by `ev_kmv_distinct` and the partitioning-invariance test, so the
    tested pipeline IS the production one.
    """
    h = F.md5(F.concat(F.lit("kmv|"), F.col(val_col).cast("string")))
    hashed = dist.select(F.col(key_col).alias("k"), h.alias("h")).withColumn(
        "salt",
        F.pmod(F.conv(F.substring("h", 1, 4), 16, 10).cast("long"), KMV_SALTS),
    )
    w = Window.partitionBy("k", "salt").orderBy("h")
    wc = Window.partitionBy("k", "salt")
    ranked = hashed.select(
        "k", "salt", "h",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("salt_n"),
    ).filter(F.col("rn") <= KMV_K)
    return ranked.groupBy("k").agg(
        F.slice(F.array_sort(F.collect_list("h")), 1, KMV_K).alias("arr"),
        F.sum(F.when(F.col("rn") == 1, F.col("salt_n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_exact"),
    ).withColumnRenamed("k", key_col)


def ev_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketch per event type — the
    mergeable-cardinality methodology (Bar-Yossef et al. 2002; the
    theta-sketch core) with a property HLL can't give the driver: the
    sketch state is a deterministic function of the VALUE SET (the k
    lexicographically smallest md5 hashes), so the estimate itself is
    bit-identical in any engine and under any partitioning — the oracle
    hash-matches the ESTIMATE, not just a gate.

    Estimator: with u(k) = the k-th smallest hash mapped to [0,1) (first
    8 hex nibbles / 2^32), distinct ≈ (k−1)/u(k); when a group holds
    fewer than k distinct values the sketch is exact by construction.

    Scale shape: per-salt k-smallest is a WINDOW rank over the
    (type, salt)-partitioned distinct stream — the window sort spills
    to disk, so memory stays bounded no matter the cardinality, and
    only ≤ k rows per salt ever enter an aggregation buffer (a
    collect_list-then-slice aggregate would buffer the whole salt
    group first — the OOM the salting exists to prevent). The final
    merge touches ≤ KMV_SALTS·k strings per type; the exact count
    rides the same pass (each salt's total on its rank-1 row), and the
    accuracy gate is the decision the sketch exists to answer.
    """
    e = load(spark, sf_dir, "events")
    dist = e.select("event_type", "user_id").distinct()
    fin = kmv_sketch(dist, "event_type", "user_id")
    kth = F.element_at("arr", F.least(F.size("arr"), F.lit(KMV_K)))
    u = F.conv(F.substring(kth, 1, 8), 16, 10).cast("long") / F.lit(
        float(2**32)
    )
    est = F.when(
        F.size("arr") < KMV_K, F.size("arr").cast("double")
    ).otherwise(F.lit(float(KMV_K - 1)) / u)
    return fin.select(
        "event_type",
        "n_exact",
        kth.alias("kth_hash"),
        F.round(est, 4).alias("est_distinct"),
        (F.abs(est - F.col("n_exact")) * 2 <= F.col("n_exact")).alias("est_ok"),
    )


def kmv_merge_pairs(sk: DataFrame) -> DataFrame:
    """KMV sketch MERGE: ``(event_type, arr)`` sketch frame → per
    unordered type pair the merged union sketch and its estimates —
    ``(type_a, type_b, m_size, kth_hash, n_both, est_u_raw,
    est_i_raw)``, est columns unrounded so callers can gate on the
    exact doubles before rounding for emit.

    This is the query-time half of the theta-sketch-store pattern
    (sketches kept per dimension — by a batch build or a streaming
    state store — merged when a question is asked): union = k smallest
    of the concatenated arrays; intersection = Beyer et al.'s
    ρ·|A∪B| with ρ = the fraction of the union sketch present in both
    inputs. Shared by the batch entry `ev_kmv_set_ops` and the
    streaming snapshot path (`streaming/kmv.py::kmv_set_ops_snapshot`),
    so stream and batch compute set algebra with ONE expression tree.

    Scale: the input is |types| rows of ≤ k hashes — the broadcast
    nested-loop pair join is O(|types|²) on kilobytes, independent of
    corpus size.
    """
    a = sk.select(
        F.col("event_type").alias("type_a"), F.col("arr").alias("arr_a")
    )
    b = sk.select(
        F.col("event_type").alias("type_b"), F.col("arr").alias("arr_b")
    )
    tp = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    m = F.slice(F.array_sort(F.array_union("arr_a", "arr_b")), 1, KMV_K)
    tp = tp.withColumn("m", m)
    kth = F.element_at("m", F.size("m"))
    u = F.conv(F.substring(kth, 1, 8), 16, 10).cast("long") / F.lit(
        float(2**32)
    )
    est_u = F.when(
        F.size("m") < KMV_K, F.size("m").cast("double")
    ).otherwise(F.lit(float(KMV_K - 1)) / u)
    n_both = F.size(
        F.array_intersect(F.array_intersect(F.col("m"), "arr_a"), "arr_b")
    )
    est_i = F.when(F.size("m") < KMV_K, n_both.cast("double")).otherwise(
        (n_both.cast("double") / F.size("m")) * est_u
    )
    return tp.select(
        "type_a",
        "type_b",
        F.size("m").cast("long").alias("m_size"),
        kth.alias("kth_hash"),
        n_both.cast("long").alias("n_both"),
        est_u.alias("est_u_raw"),
        est_i.alias("est_i_raw"),
    )


def ev_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA — the property that makes KMV/theta
    sketches the scale answer for audience-overlap questions: two
    sketches built independently (different partitions, days, or
    streams) merge into valid sketches of the UNION (k smallest of the
    combined hash sets) and estimate the INTERSECTION without ever
    touching row data again (Beyer et al., SIGMOD 2007: among the k
    smallest of the union, the fraction present in both input sketches
    estimates Jaccard; × the union estimate gives |A∩B|).

    Per unordered event-type pair (type_a < type_b): exact distinct-user
    set sizes (n_a, n_b), exact intersection / union (the expensive
    twins the sketch replaces), the merged-sketch estimates, and
    factor-2 accuracy gates (intersection error measured against the
    union size — the scale KMV's ρ·|A∪B| estimator is accurate to).
    Every emitted value is a deterministic function of md5 hashes, so
    the DuckDB oracle reproduces the ESTIMATES bit-for-bit, not just
    the gates.

    Scale shape: sketches come from the shared ``kmv_sketch`` pipeline
    (window-ranked per salt — bounded memory at any cardinality); the
    pair frame joins |types| rows of ≤ k hashes each (broadcast, tiny,
    independent of corpus size), so merge + estimate are O(|types|²·k)
    TOTAL — row data is touched exactly twice (sketch build + exact
    twins), and the exact intersection collapses per user FIRST
    (collect_set over the closed type vocabulary, the
    ``ev_type_cooccurrence`` shape) — no user-keyed self-join, no
    co-occurrence-density-sized shuffle. At 100 TB you'd drop the exact
    twins and keep the sketch path: one distinct + one bounded-state
    pass, mergeable across any partitioning.
    """
    e = load(spark, sf_dir, "events")
    dist = e.select("event_type", "user_id").distinct()
    # two consumers (sketch build + exact pair twins) — materialize once
    dist = dist.localCheckpoint()
    # |types| rows of ≤ k hashes — materialize once so the self-join
    # inside kmv_merge_pairs doesn't run the sketch build twice
    # (plan-audited)
    sk = kmv_sketch(dist, "event_type", "user_id").localCheckpoint()
    merged = kmv_merge_pairs(sk.select("event_type", "arr"))
    counts = sk.select("event_type", "n_exact")
    # exact intersection: per-user sorted type set → scan-local pair
    # explosion (≤ |types|²/2 per user) → pair-domain count
    per_user = dist.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    pairs = per_user.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("types"),
                    lambda x, i: F.transform(
                        F.slice(F.col("types"), i + 2, F.size(F.col("types"))),
                        lambda y: F.struct(
                            x.alias("type_a"), y.alias("type_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    inter = pairs.groupBy("p.type_a", "p.type_b").agg(
        F.count(F.lit(1)).cast("long").alias("inter_exact")
    )
    out = (
        merged.join(
            F.broadcast(
                counts.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n_exact").alias("n_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                counts.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n_exact").alias("n_b"),
                )
            ),
            "type_b",
        )
        .join(F.broadcast(inter), ["type_a", "type_b"], "left")
        .withColumn(
            "inter_exact", F.coalesce("inter_exact", F.lit(0)).cast("long")
        )
        .withColumn(
            "union_exact",
            (F.col("n_a") + F.col("n_b") - F.col("inter_exact")).cast("long"),
        )
    )
    est_u, est_i = F.col("est_u_raw"), F.col("est_i_raw")
    return out.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "inter_exact",
        "union_exact",
        F.round(est_u, 4).alias("est_union"),
        F.round(est_i, 4).alias("est_inter"),
        (F.abs(est_u - F.col("union_exact")) * 2 <= F.col("union_exact")).alias(
            "union_ok"
        ),
        (F.abs(est_i - F.col("inter_exact")) * 2 <= F.col("union_exact")).alias(
            "inter_ok"
        ),
    )


def ev_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB cardinality path, driver-verifiable: per event type,
    exact distinct users (value-hashed against the oracle) PLUS a
    machine-checked accuracy gate on ``approx_count_distinct`` —
    HyperLogLog++ register merges are commutative max operations, so
    the sketch estimate is partitioning-independent, but its VALUE is
    implementation-specific (Spark's HLL++ ≠ DuckDB's HLL), so the
    emitted column is the exact-arithmetic boolean |est − exact| ≤
    rel·exact and the oracle states TRUE. At scale the sketch is the
    survivor: one pass, fixed-width state, mergeable across any
    partitioning — exact distinct is the expensive twin kept for the
    gate."""
    e = load(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact"),
        F.approx_count_distinct("user_id", HLL_RSD).alias("n_est"),
    )
    # integer-only gate: |est - exact| * 100 <= 5 * exact  (rel = 0.05)
    pct = int(HLL_REL_ERROR * 100)
    return agg.select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("n_est") - F.col("n_exact")) * 100
            <= F.lit(pct) * F.col("n_exact")
        ).alias("est_ok"),
    )


def _sessionize(spark: SparkSession, sf_dir: str, gap_ms: int) -> DataFrame:
    """Batch-SQL twin of the O9 session operator (SURVEY.md §2.10),
    delegated to the shared ``sessionize_batch`` operator (lag/gap/cumsum;
    one shuffle on user_id reused by both window passes and the groupBy)."""
    from kafka_flink_harshevents_spark.operators.sessions import sessionize_batch

    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", ts_millis("ts").alias("e")
    )
    return sessionize_batch(
        e, key_col="user_id", ts_col="e", gap=gap_ms, order_cols=("event_id",)
    ).select(
        "user_id",
        "session_id",
        F.col("start_timestamp").alias("start_ms"),
        F.col("end_timestamp").alias("end_ms"),
        F.col("n_touches").alias("n_events"),
    )


def ev_sessionize_300s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity gap (300 s — kafkaConsumer.js:43). The synthetic
    events table has multi-minute inter-event gaps, so most sessions are
    singletons; ev_sessionize_2h shows real consolidation."""
    return _sessionize(spark, sf_dir, SESSION_GAP_MS)


def ev_sessionize_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same operator, 2-hour inactivity gap — consolidating variant."""
    return _sessionize(spark, sf_dir, 7_200_000)


def ev_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 tumbling-window aggregation via the real ``F.window`` (1 h):
    per (hour, type) count + det-sum value, the batch twin of the
    watermarked streaming form.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts").cast("timestamp")), "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            det_sum("value", 2).alias("total_value"),
        )
    )



def ev_sliding_30m_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding windows via the real ``F.window`` operator
    (30 min length, 10 min slide): each event expands into exactly 3
    windows, then ONE shuffle on (window, event_type) aggregates them.
    This is the batch twin of the streaming windowed-agg path — the same
    expression works under ``readStream`` with a watermark.

    Scale: the expansion factor is length/slide (3×), constant per row —
    no skew risk beyond the base stream's key distribution.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window(F.col("ts").cast("timestamp"), "30 minutes", "10 minutes").alias(
                "w"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            det_sum("value", 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def ev_value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join through ``operators.joins.range_join``:
    events matched to OVERLAPPING severity bands ([lo, hi) semantics, so
    a value can land in two bands). The bucket decomposition keeps the
    plan an equi-join on the bucket key — no BroadcastNestedLoopJoin —
    which is what survives when the interval table is itself too large
    to broadcast (the 3-row dim here demonstrates the semantics; the
    operator is the scale path).
    """
    from kafka_flink_harshevents_spark.operators.joins import range_join

    e = load(spark, sf_dir, "events").select("event_id", "value")
    bands = spark.createDataFrame(
        [("low", 0.0, 100.0), ("mid", 80.0, 250.0), ("high", 225.0, 500.0)],
        ["band", "lo", "hi"],
    )
    return range_join(
        e, bands, left_val="value", right_lo="lo", right_hi="hi", bucket_width=50.0
    ).select("event_id", "value", "band")


def ev_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (event_type, hour-of-day): all four grouping sets
    in one pass (Expand duplicates rows map-side; the shuffle moves
    O(groups)). grouping_id disambiguates rollup-nulls from data —
    the OLAP dashboard primitive the reference's chart sink implies."""
    e = load(spark, sf_dir, "events")
    return (
        e.select("event_type", F.hour("ts").cast("long").alias("hr"), "value")
        .cube("event_type", "hr")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            det_sum("value", 2).alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("hr", F.lit(-1)).cast("long").alias("hr"),
            "gid",
            "n",
            "total_value",
        )
    )


def ev_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: day and day+hour
    aggregates in ONE pass via ROLLUP grouping sets (the Expand operator
    duplicates each row per grouping set map-side; the shuffle still
    moves O(groups), not O(rows))."""
    e = load(spark, sf_dir, "events")
    return (
        e.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.hour("ts").cast("long").alias("hr"),
            "value",
        )
        .rollup("day", "hr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            det_sum("value", 2).alias("total_value"),
        )
        .select(
            F.coalesce("day", F.lit("ALL")).alias("day"),
            F.coalesce("hr", F.lit(-1)).cast("long").alias("hr"),
            "n",
            "total_value",
        )
    )


def ev_user_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window battery: per-user running total (unbounded-
    preceding sum), previous-event gap (lag), and next event id (lead) —
    all three specs share ONE shuffle on user_id because they share the
    same partitioning and ordering (one Window physical operator)."""
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", ts_millis("ts").alias("ts_ms"), "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "ts_ms",
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_total"),
        (F.col("ts_ms") - F.lag("ts_ms").over(w)).alias("gap_ms"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


RANGE_FRAME_MS = 600_000  # trailing 10 minutes


def ev_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-interval window frame: per event, the sum and count of the
    same user's events in the trailing 10 minutes (inclusive). Distinct
    from the ROWS frames elsewhere in the catalog — the frame is bound
    by the ORDER-BY VALUE, so all same-timestamp rows enter together
    regardless of tie order.

    Determinism: a sliding double sum accumulates in row order, and tie
    order within a RANGE frame is engine-arbitrary — so the windowed
    sum runs on exact hi/lo long quantizations (associative, per-row
    long codegen), recombined in decimal and rounded once at emit.
    One shuffle on user_id; the frame
    is computed by the single Window operator with no self-join — the
    shape that survives a 100× scale-up (state per partition is the
    10-minute row span, not the history).
    """
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", ts_millis("ts").alias("ts_ms"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms")
        .rangeBetween(-RANGE_FRAME_MS, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts_ms",
        det_sum_over("value", w, 2).alias("trailing_10m_sum"),
        F.count(F.lit(1)).over(w).cast("long").alias("trailing_10m_n"),
    )


def _percentile_picks(ranked: DataFrame) -> DataFrame:
    return ranked.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        det_avg("value", 4).alias("avg_value"),
        F.max(F.when(F.col("rn") == (F.floor(F.col("n") * 0.5) + 1), F.col("value"))).alias("p50"),
        F.max(F.when(F.col("rn") == (F.floor(F.col("n") * 0.95) + 1), F.col("value"))).alias("p95"),
        F.max(F.when(F.col("rn") == (F.floor(F.col("n") * 0.99) + 1), F.col("value"))).alias("p99"),
    )


def ev_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's exact percentile definition: sort ascending, take
    element floor(n*q) (0-indexed) — mqtt_publish.js:84-97. Exact rank is
    computed distributed (see `operators.ranking.with_exact_rank`), so both engines pick
    the identical element (tie-break on event_id) with no global-sort
    single-partition collapse. At 100 TB the cheap alternative remains
    ``percentile_approx``; this entry is the bit-exact form."""
    e = load(spark, sf_dir, "events").select("event_id", "value")
    return _percentile_picks(with_exact_rank(e, "value", "event_id"))


def ev_percentile_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type exact percentiles via
    ``operators.ranking.with_exact_rank_grouped``: a plain
    ``Window.partitionBy(event_type)`` would funnel each enum value's
    entire data into one partition (5 partitions at any scale), so ranks
    key on (type, value-range-bucket) — parallelism ∝ groups × 1024.
    Same inverse-CDF pick as the global entry, per group."""
    from kafka_flink_harshevents_spark.operators.ranking import (
        with_exact_rank_grouped,
    )

    e = load(spark, sf_dir, "events").select("event_type", "event_id", "value")
    ranked = with_exact_rank_grouped(e, "event_type", "value", "event_id")
    return ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        det_avg("value", 4).alias("avg_value"),
        F.max(
            F.when(F.col("rn") == (F.floor(F.col("n") * 0.5) + 1), F.col("value"))
        ).alias("p50"),
        F.max(
            F.when(F.col("rn") == (F.floor(F.col("n") * 0.95) + 1), F.col("value"))
        ).alias("p95"),
    )


def ev_percentile_last1000(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2's actual buffer semantics (mqtt_publish.js:80-97): statistics
    over the 1000 MOST RECENT samples only. The recency cut is
    ORDER BY ts DESC LIMIT 1000 — Spark plans TakeOrderedAndProject, so
    only 1000 rows ever leave the scan regardless of table size; the
    rank over the bounded buffer reuses the same partitioned-rank plan."""
    e = load(spark, sf_dir, "events").select(
        "event_id", "value", ts_millis("ts").alias("tms")
    )
    # pin the 1000-row buffer ONCE: the exact-rank operator references
    # its input three times (min/max pass, bucket-count pass, final
    # ranked pass), and each reference would re-run the TakeOrdered
    # subtree — a full scan of events per pass at any scale. The
    # buffer is structurally bounded (LIMIT 1000) and deterministic
    # (total-order tie-break), so an eager localCheckpoint turns three
    # table scans into one (guide §1.2: compute things once).
    recent = (
        e.orderBy(F.col("tms").desc(), F.col("event_id").desc())
        .limit(1000)
        .drop("tms")
        .localCheckpoint(eager=True)
    )
    return _percentile_picks(with_exact_rank(recent, "value", "event_id"))


def ev_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 histogram binning (visualization.py:36): fixed-width value
    buckets, one two-phase aggregate; bucket ids are exact integer
    arithmetic in both engines.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.floor(F.col("value") / F.lit(50.0)).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            det_avg("value", 4).alias("avg_value"),
        )
    )


def ev_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction stays JVM-side (get_json_object), then a
    grouped aggregate on the derived key — the P11 parse promoted to a
    first-class projection."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select(F.floor(k / 10).cast("long").alias("k_bucket"), k.alias("k"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
        )
    )


def ev_threshold_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 generalized: classify rows crossing value thresholds and emit
    derived events — project+filter only, no shuffle (the same narrow
    shape as the reference's violation derivation)."""
    e = load(spark, sf_dir, "events")
    cls = (
        F.when(F.col("value") >= 450.0, F.lit("extreme_high"))
        .when(F.col("value") <= 5.0, F.lit("extreme_low"))
    )
    return (
        e.withColumn("violation_type", cls)
        .filter(F.col("violation_type").isNotNull())
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            "violation_type",
            ts_millis("ts").alias("ts_ms"),
        )
    )


def ev_user_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k users by activity (README.md:108 find().limit shape) —
    TakeOrderedAndProject with a total-order tie-break, never a global
    sort.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            det_sum("value", 2).alias("total_value"),
        )
        .orderBy(F.col("n_events").desc(), F.col("user_id"))
        .limit(10)
    )


from kafka_flink_harshevents_spark.streaming.heavyhitters import MG_K  # noqa: E402

MG_SHARDS = 4  # md5-hash shards for the Misra–Gries catalog entry


def ev_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries frequent-items summary as a driver-checked entry —
    the catalog face of `streaming/heavyhitters.py` (same `_mg_update`
    step, so the verified fold IS the production one). Items (user ids)
    are md5-hash-sharded (portable shard assignment — the oracle
    recomputes it); per shard, one deterministic pass in event_id order
    builds the k-counter summary, and the emission is the GATE
    convention: exact per-shard integers the oracle recomputes (stream
    length, frequent-item count over the floor(m/(k+1)) threshold, the
    exact top item with tie-break) plus the two MG theorems as booleans
    — every frequent item is tracked; every estimate undercounts by at
    most floor(m/(k+1)).

    Scale shape: the summary values themselves depend on fold order, so
    they stay out of the hashed emission (the STREAMING operator is the
    unbounded-history path — bounded state per shard); this entry's job
    is machine-checking the guarantee against exact counts, which the
    hash sharding keeps parallel across MG_SHARDS groups.
    """
    import pandas as pd

    from kafka_flink_harshevents_spark.streaming.heavyhitters import _mg_update

    e = load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("item"), "event_id"
    )
    shard = F.pmod(
        F.conv(F.substring(F.md5("item"), 1, 8), 16, 10).cast("long"),
        F.lit(MG_SHARDS),
    )
    it = e.withColumn("shard", shard)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("event_id", kind="stable")
        counters: dict[str, int] = {}
        for item in pdf["item"]:
            _mg_update(counters, MG_K, item)
        cnt = pdf["item"].value_counts()
        m = len(pdf)
        thr = m // (MG_K + 1)
        frequent = {i for i, c in cnt.items() if c > thr}
        all_tracked = frequent.issubset(counters.keys())
        under_ok = all(
            0 <= int(cnt[i]) - est <= thr for i, est in counters.items()
        )
        top_count = int(cnt.max())
        top_item = min(i for i, c in cnt.items() if int(c) == top_count)
        return pd.DataFrame(
            [
                {
                    "shard": int(pdf["shard"].iloc[0]),
                    "m": m,
                    "n_frequent": len(frequent),
                    "all_frequent_tracked": bool(all_tracked),
                    "underestimate_ok": bool(under_ok),
                    "top_item": top_item,
                    "top_count": top_count,
                }
            ]
        )

    return it.groupBy("shard").applyInPandas(
        fold,
        schema=(
            "shard long, m long, n_frequent long, all_frequent_tracked boolean,"
            " underestimate_ok boolean, top_item string, top_count long"
        ),
    )


def ev_enrich_vehicle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry-native enrichment join (SURVEY §2.7, the join the
    reference sets up but never performs): violations joined to a
    vehicle dimension keyed by ``vehicle_id``, drawn from the reference
    generator's pools (mqtt_publish.js:157-166).

    Plan shape: the fact side is the narrow F10 threshold derivation;
    the dimension is tiny and explicitly ``broadcast()`` — the join adds
    ZERO shuffle, which is exactly how a 100 TB violations stream gets
    enriched (dim tables broadcast; the stream stays partition-local).
    Device→vehicle assignment is deterministic (pmod on user_id) so the
    DuckDB oracle reproduces it bit-for-bit."""
    from kafka_flink_harshevents_spark.sources.synthetic import (
        ACCOUNT_POOL,
        VEHICLE_POOL,
    )

    dim = spark.createDataFrame(
        [
            (VEHICLE_POOL[i], ACCOUNT_POOL[i % len(ACCOUNT_POOL)], f"fleet-{i}")
            for i in range(len(VEHICLE_POOL))
        ],
        "vehicle_id string, account_id string, fleet string",
    )
    v = ev_threshold_classify(spark, sf_dir).withColumn(
        "vehicle_id",
        F.element_at(
            F.array(*[F.lit(x) for x in VEHICLE_POOL]),
            (F.pmod(F.col("user_id"), F.lit(len(VEHICLE_POOL))) + 1).cast("int"),
        ),
    )
    return v.join(F.broadcast(dim), "vehicle_id").select(
        "event_id",
        "user_id",
        "violation_type",
        "value",
        "vehicle_id",
        "account_id",
        "fleet",
    )


def ev_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4's VARIANT type: `parse_json`
    once into the binary variant encoding, then typed `variant_get`
    extraction — the scale path for JSON-heavy event streams
    (shredded binary access beats per-row string re-parsing; at 100 TB
    the parse happens once at ingest, every query reads the variant).
    Same aggregate shape as `ev_props_extract` but joined with the
    event's value so the two extraction paths are triangulated: any
    divergence between get_json_object and variant_get would break the
    shared oracle.
    """
    e = load(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    return (
        e.select(F.floor(k / 10).cast("long").alias("k_bucket"), k.alias("k"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            det_avg("value", 4).alias("avg_value"),
        )
    )


TRENDING_TOP_N = 2


def ev_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items per window — the dashboard staple the reference's
    chart sink approximates with its per-type counters
    (kafkaConsumer.js:229-233): top-N event types per tumbling hour by
    count. Two-level plan: ONE keyed aggregation on (hour, type) —
    map-side combine collapses each partition first — then a rank
    Window partitioned by the hour bucket. The window key's cardinality
    grows with time span, so partitions stay balanced at any scale
    (never a global sort); ties break on event_type for an
    engine-stable top-N.
    """
    e = load(spark, sf_dir, "events")
    counts = e.groupBy(
        F.date_format(
            F.date_trunc("hour", F.col("ts").cast("timestamp")), "yyyy-MM-dd HH:mm:ss"
        ).alias("hour_ts"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("hour_ts").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TRENDING_TOP_N)
        .select("hour_ts", "event_type", "n", "rk")
    )


ATTR_WINDOW_MS = 24 * 3600 * 1000  # last-touch lookback


def ev_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style last-touch attribution: every purchase is
    credited to the same user's LATEST click at-or-before the purchase,
    within a 24 h lookback — the event-on-event as-of join
    (`operators.joins.asof_join`, §2.7's as-of with tolerance) applied
    to the funnel the reference's event types carry. Purchases with no
    qualifying click stay in the result unattributed (left semantics).

    Plan shape: ONE union-sort pass partitioned by user — both legs
    shuffle once on the key, the carry is a running `last(ignorenulls)`
    window, and the tolerance is a post-carry predicate, not a second
    join. The same plan at 100 TB: state per partition is one carried
    struct, never a per-user history.
    """
    from kafka_flink_harshevents_spark.operators.joins import asof_join

    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", ts_millis("ts").alias("tms")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_event_id"),
        F.col("tms").alias("click_ms"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.col("tms").alias("purchase_ms"),
    )
    j = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="purchase_ms",
        right_ts="click_ms",
        payload_cols=["click_event_id", "click_ms"],
        tie_break="click_event_id",
        tolerance=ATTR_WINDOW_MS,
    )
    return j.select(
        "purchase_event_id",
        "user_id",
        "purchase_ms",
        "click_event_id",
        "click_ms",
        (F.col("purchase_ms") - F.col("click_ms")).alias("gap_ms"),
    )


QAPPROX_ACC = 100  # percentile_approx accuracy → rank error ≲ n/accuracy


def ev_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB quantile path, driver-verifiable — the sketch twin of
    `ev_approx_distinct`: per event type, EXACT p50/p95 (inverse-CDF,
    oracle-hashed) plus an integer-arithmetic accuracy gate on
    ``percentile_approx`` (Greenwald–Khanna summaries: one pass,
    bounded state, mergeable across any partitioning — the quantile
    that survives at scale, where the exact rank pass is the expensive
    twin kept for the gate). The sketch VALUE is engine-specific, so
    what's emitted is its rank-error check: the count of values ≤ the
    estimate must sit within ~2n/accuracy of the target rank — pure
    integers, and the oracle states TRUE.
    """
    from kafka_flink_harshevents_spark.operators.ranking import (
        with_exact_rank_grouped,
    )

    e = load(spark, sf_dir, "events").select("event_type", "event_id", "value")
    ranked = with_exact_rank_grouped(e, "event_type", "value", "event_id")
    exact = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max(
            F.when(F.col("rn") == (F.floor(F.col("n") * 0.5) + 1), F.col("value"))
        ).alias("p50_exact"),
        F.max(
            F.when(F.col("rn") == (F.floor(F.col("n") * 0.95) + 1), F.col("value"))
        ).alias("p95_exact"),
    )
    approx = (
        e.groupBy("event_type")
        .agg(F.percentile_approx("value", [0.5, 0.95], QAPPROX_ACC).alias("ap"))
        .select(
            "event_type",
            F.col("ap")[0].alias("ap50"),
            F.col("ap")[1].alias("ap95"),
        )
    )
    ranks = (
        e.join(F.broadcast(approx), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") < F.col("ap50"), 1).otherwise(0))
            .cast("long")
            .alias("lt50"),
            F.sum(F.when(F.col("value") <= F.col("ap50"), 1).otherwise(0))
            .cast("long")
            .alias("le50"),
            F.sum(F.when(F.col("value") < F.col("ap95"), 1).otherwise(0))
            .cast("long")
            .alias("lt95"),
            F.sum(F.when(F.col("value") <= F.col("ap95"), 1).otherwise(0))
            .cast("long")
            .alias("le95"),
        )
    )
    acc = QAPPROX_ACC
    # The estimate occupies the rank INTERVAL [lt+1, le] (duplicates
    # widen it); the gate passes iff the target rank q·n sits within
    # 2n/acc + 1 of that interval — tie-robust, unlike a single
    # count(≤) comparison. Cross-multiplied to integers:
    #   p50 (q=1/2):   (2·lt − n)·acc ≤ 2·(2n + acc)
    #              AND (n − 2·le)·acc ≤ 2·(2n + acc)
    #   p95 (q=19/20): (20·lt − 19n)·acc ≤ 20·(2n + acc)
    #              AND (19n − 20·le)·acc ≤ 20·(2n + acc)
    def gate(lt, le, qn, qd):
        # q = qn/qd; slack = 2n/acc + 1 scaled by qd·acc
        slack = F.lit(qd) * (F.lit(2) * F.col("n") + F.lit(acc))
        lo_ok = (F.lit(qd) * F.col(lt) - F.lit(qn) * F.col("n")) * acc <= slack
        hi_ok = (F.lit(qn) * F.col("n") - F.lit(qd) * F.col(le)) * acc <= slack
        return lo_ok & hi_ok

    return exact.join(ranks, "event_type").select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        "p50_exact",
        "p95_exact",
        gate("lt50", "le50", 1, 2).alias("p50_ok"),
        gate("lt95", "le95", 19, 20).alias("p95_ok"),
    )


def ev_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC / upsert compaction — last-write-wins per (user_id,
    event_type): the batch twin of the reference consumer's Mongo
    update-by-id sink (K4, kafkaConsumer.js:304-318), where only the
    newest state per key survives. ONE shuffle with map-side partial
    `max_by`; no window, no sort — each partition first collapses to its
    local latest, so the exchange moves at most (keys × partitions)
    rows, the compaction shape that holds at any scale.

    The ordering key is a zero-padded `(tms, event_id)` string — total
    order, lexicographic = numeric, and the identical expression in the
    DuckDB oracle (whose `arg_max` cannot take a struct key).
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "value", ts_millis("ts").alias("tms")
    )
    okey = F.format_string("%020d|%012d", F.col("tms"), F.col("event_id"))
    return e.groupBy("user_id", "event_type").agg(
        F.round(F.expr(
            "max_by(value, format_string('%020d|%012d', tms, event_id))"
        ), 2).alias("last_value"),
        F.max_by("event_id", okey).alias("last_event_id"),
        F.max("tms").alias("last_ms"),
        F.count(F.lit(1)).alias("n_versions"),
    )


CM_DEPTH = 4  # Count-Min rows (independent md5-salted hash functions)
CM_WIDTH = 256  # Count-Min columns (buckets per row)
CM_TOPN = 20  # emitted heavy users (exact top-n, deterministic tie-break)


def _cm_bucket(item: F.Column, d: int) -> F.Column:
    """Row-``d`` Count-Min bucket of a string item: first 8 hex nibbles
    of a salted md5, mod CM_WIDTH — the identical integer the oracle
    derives with `hex8_int_sql`."""
    h = F.md5(F.concat(F.lit(f"cm{d}|"), item))
    return F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(CM_WIDTH)
    )


def cm_cell_array(item: F.Column) -> F.Column:
    """The CM_DEPTH (d, bucket) cell coordinates of an item as an array
    of structs — THE single definition of the sketch's cell addressing,
    shared by the batch entry's build and probe sides, the streaming
    twin (`streaming/countmin.py`), and the parity test; a change to
    the salt/width scheme lands everywhere at once."""
    return F.array(*[
        F.struct(F.lit(d).alias("d"), _cm_bucket(item, d).alias("bucket"))
        for d in range(CM_DEPTH)
    ])


def ev_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point queries (Cormode & Muthukrishnan 2005) —
    the frequency-estimation sketch that completes the mergeable-summary
    family next to HLL (`ev_approx_distinct`), KMV (`ev_kmv_distinct`),
    Misra–Gries (`ev_heavy_hitters`) and Greenwald–Khanna
    (`ev_approx_quantile`). Unlike HLL, the sketch STATE here is a
    deterministic pure function of the multiset (CM_DEPTH × CM_WIDTH
    integer cells addressed by salted md5), so the ESTIMATES themselves
    are engine-portable and the oracle hash-matches them — plus the
    one-sided theorem (est ≥ exact, always) as a machine-checked gate.

    Emission: the exact top-CM_TOPN users by event count (total-order
    tie-break on user_id) with their exact count, CM estimate, and the
    never-undercount flag.

    Scale shape: the sketch build is one map-side-combining aggregate
    over (row, bucket) — 1024 cells regardless of input size, the
    textbook mergeable-state plan; the probe side is TakeOrdered top-n
    (distributed heaps + driver merge, never a global sort) and the
    (row, bucket) lookup joins a ≤1024-row broadcast.
    """
    # NULL items are excluded on BOTH the sketch and probe sides (a
    # NULL hashes to a NULL bucket); the streaming twin drops them in
    # its stateless projection, so the cell-for-cell parity invariant
    # holds on corpora WITH null keys too.
    e = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    item = F.col("user_id").cast("string")
    cells = e.select(F.explode(cm_cell_array(item)).alias("c")).select(
        "c.d", "c.bucket"
    )
    sketch = cells.groupBy("d", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tops = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("user_id"))
        .limit(CM_TOPN)
    )
    probe = tops.select(
        "user_id",
        "n_exact",
        F.explode(cm_cell_array(F.col("user_id").cast("string"))).alias("c"),
    ).select("user_id", "n_exact", "c.d", "c.bucket")
    return (
        probe.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cnt").alias("est_cm"))
        .select(
            "user_id",
            "n_exact",
            "est_cm",
            (F.col("est_cm") >= F.col("n_exact")).alias("never_under"),
        )
    )


DECAY_HALFLIFE_H = 1  # one integer hour per halving — exact dyadic weights


def ev_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed counters per event type — the
    forgetting-counter shape behind every "trending now" / rate-limiter
    surface (the streaming-analytics face of the reference's per-type
    counters, kafkaConsumer.js:229-233, with recency weighting).

    Each event weighs 2^(−age) where age = calendar-hour-bucket
    difference between the event and the corpus max (decay advances on
    hour boundaries — the tumbling-bucket convention, and the form whose
    per-(type, hour) counts are a BOUNDED streaming state; see
    `streaming/trending.py::decayed_counts_stream`). Determinism: the
    age is an INTEGER, so 2^(−age)·10⁶ = 15625·2^(6−age) is exactly
    representable in IEEE double for every age that survives the
    microquantization (age ≥ 21 floors to 0) — `floor(x + 0.5)` of an
    exact double is bit-identical in any engine, sidestepping both
    float addition order (the sum is over longs) and round()
    half-up/half-even divergence. Emitted in micro-units as a BIGINT.

    Scale shape: one scalar max (1-row broadcast) + one map-side
    combining aggregate — the same two-phase plan as `ev_type_counts`;
    at 100 TB the decayed counter merges associatively exactly like the
    plain count.
    """
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(ts_millis("ts") / F.lit(3_600_000.0)).alias("h"),
    )
    ref = e.agg(F.max("h").alias("ref_h"))
    age_h = F.col("ref_h") - F.col("h")
    w_micro = F.floor(
        F.pow(F.lit(2.0), (-age_h).cast("double")) * F.lit(1_000_000.0)
        + F.lit(0.5)
    )
    return (
        e.crossJoin(F.broadcast(ref))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(w_micro).cast("long").alias("decayed_micro"),
        )
    )


MAINT_PERIOD_MS = 21_600_000  # a 30-min maintenance window every 6 h
MAINT_LEN_MS = 1_800_000


def ev_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join — Flink's interval join /
    SQL's OVERLAPS, the family `ev_value_band_join`
    (point-in-interval) and `q_asof_latest_order` (as-of) don't cover:
    which user sessions overlapped each scheduled maintenance window
    (a 30-minute window every 6 hours, derived from the data's own
    span), and for how long — the ops question behind "did the outage
    clip any sessions".

    Scale shape: `operators/joins.py::interval_overlap_join` — both
    interval sets explode into 30-min buckets and meet in ONE
    equi-join on the bucket key; pair dedup is the canonical-bucket
    predicate (row-local, no distinct shuffle). The window table is
    span-sized (one row per 6 h of data), sessions are the
    `ev_sessionize_300s` subplan reused as-is; the final rollup is a
    tiny keyed aggregate. All interval arithmetic in exact epoch-ms
    longs.
    """
    from kafka_flink_harshevents_spark.operators.joins import (
        interval_overlap_join,
    )

    sess = _sessionize(spark, sf_dir, SESSION_GAP_MS).select(
        "user_id",
        "session_id",
        F.col("start_ms").alias("s_lo"),
        (F.col("end_ms") + 1).alias("s_hi"),
    )
    e = load(spark, sf_dir, "events").select(ts_millis("ts").alias("tms"))
    mm = e.agg(
        F.floor(F.min("tms") / F.lit(float(MAINT_PERIOD_MS))).alias("klo"),
        F.floor(F.max("tms") / F.lit(float(MAINT_PERIOD_MS))).alias("khi"),
    )
    wins = mm.select(
        F.explode(F.sequence("klo", "khi")).alias("k")
    ).select(
        (F.col("k") * MAINT_PERIOD_MS).alias("w_lo"),
        (F.col("k") * MAINT_PERIOD_MS + MAINT_LEN_MS).alias("w_hi"),
    )
    j = interval_overlap_join(
        sess, wins, "s_lo", "s_hi", "w_lo", "w_hi", float(MAINT_LEN_MS)
    )
    ov = F.least("s_hi", "w_hi") - F.greatest("s_lo", "w_lo")
    return (
        j.groupBy(F.col("w_lo").alias("window_start_ms"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(ov).cast("long").alias("overlap_ms_total"),
        )
    )


def ev_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (slowly-changing-dimension type 2) reconstruction from a
    CDC log — the lakehouse history-table build: every state change per
    (user_id, event_type) becomes a version row with a validity
    interval ``[valid_from, valid_to)``, ``valid_to`` NULL on the
    current version. This is the batch form of what a MERGE-based SCD2
    sink maintains incrementally (the reference's Mongo update-by-id
    sink K4 keeps only the LATEST state — `ev_latest_by_key`; this
    entry keeps the full history, the other half of the CDC story).

    Determinism: versions are ordered by the zero-padded (ts, event_id)
    total-order key (the `ev_latest_by_key` convention), so ties cannot
    reorder across engines.

    Scale shape: ONE hash exchange on (user_id, event_type); both
    window specs (lead + row_number) share it. State per key ∝ that
    key's version count, never the table.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "value",
        ts_millis("ts").alias("tms"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("tms", "event_id")
    return e.select(
        "user_id",
        "event_type",
        F.row_number().over(w).cast("long").alias("version"),
        F.col("tms").alias("valid_from_ms"),
        F.lead("tms").over(w).alias("valid_to_ms"),
        F.lead("tms").over(w).isNull().alias("is_current"),
        F.round("value", 2).alias("value"),
    )


def ev_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence matrix over (user, hour) groups — the
    counting kernel behind association mining and PMI-based embedding
    training (count how often types a and b fire for the same user in
    the same hour, with the marginals needed to normalize). Emits
    integer counts only (n_ab, n_a, n_b, n_groups): PMI itself is one
    driver-side log away, and keeping the emission integral keeps it
    bit-identical across engines.

    Scale shape: the naive formulation self-joins the (user, hour,
    type) relation — a shuffle whose output grows with co-occurrence
    density. Here each (user, hour) group collapses FIRST
    (``collect_set`` over a small closed type vocabulary, partial agg),
    then pairs explode SCAN-LOCALLY from the sorted set (≤ t·(t-1)/2
    per group for t distinct types) and recount into a pair-domain
    aggregate that map-side-combines to at most |types|² rows per
    partition. No self-join, no skew: a user with 10M events still
    contributes ≤ one array per hour.
    """
    g = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h"),
            "event_type",
        )
        .groupBy("user_id", "h")
        .agg(F.array_sort(F.collect_set("event_type")).alias("types"))
    )
    # three consumers (pairs / marginals / total) — materialize once
    g = g.localCheckpoint()
    pairs = g.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("types"),
                    lambda a, i: F.transform(
                        F.slice(F.col("types"), i + 2, F.size(F.col("types"))),
                        lambda b: F.struct(a.alias("type_a"), b.alias("type_b")),
                    ),
                )
            )
        ).alias("p")
    )
    co = pairs.groupBy("p.type_a", "p.type_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_ab")
    )
    per_type = (
        g.select(F.explode("types").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    )
    total = g.agg(F.count(F.lit(1)).cast("long").alias("n_groups"))
    return (
        co.join(
            F.broadcast(per_type.select(F.col("t").alias("type_a"),
                                        F.col("n_t").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(per_type.select(F.col("t").alias("type_b"),
                                        F.col("n_t").alias("n_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(total))
        .select("type_a", "type_b", "n_ab", "n_a", "n_b", "n_groups")
    )


QUERIES = {
    "ev_type_cooccurrence": ev_type_cooccurrence,
    "ev_type_counts": ev_type_counts,
    "ev_approx_distinct": ev_approx_distinct,
    "ev_kmv_distinct": ev_kmv_distinct,
    "ev_kmv_set_ops": ev_kmv_set_ops,
    "ev_approx_quantile": ev_approx_quantile,
    "ev_attribution_last_touch": ev_attribution_last_touch,
    "ev_latest_by_key": ev_latest_by_key,
    "ev_trending": ev_trending,
    "ev_props_variant": ev_props_variant,
    "ev_sessionize_300s": ev_sessionize_300s,
    "ev_sessionize_2h": ev_sessionize_2h,
    "ev_hourly_tumbling": ev_hourly_tumbling,
    "ev_sliding_30m_10m": ev_sliding_30m_10m,
    "ev_value_band_join": ev_value_band_join,
    "ev_time_rollup": ev_time_rollup,
    "ev_cube": ev_cube,
    "ev_user_running_stats": ev_user_running_stats,
    "ev_range_frame_sum": ev_range_frame_sum,
    "ev_percentile_stats": ev_percentile_stats,
    "ev_percentile_by_type": ev_percentile_by_type,
    "ev_percentile_last1000": ev_percentile_last1000,
    "ev_histogram": ev_histogram,
    "ev_props_extract": ev_props_extract,
    "ev_threshold_classify": ev_threshold_classify,
    "ev_user_topk": ev_user_topk,
    "ev_heavy_hitters": ev_heavy_hitters,
    "ev_count_min": ev_count_min,
    "ev_decayed_counts": ev_decayed_counts,
    "ev_scd2_intervals": ev_scd2_intervals,
    "ev_session_overlap": ev_session_overlap,
    "ev_enrich_vehicle": ev_enrich_vehicle,
}


def _enrich_vehicle_sql() -> str:
    from kafka_flink_harshevents_spark.sources.synthetic import (
        ACCOUNT_POOL,
        VEHICLE_POOL,
    )

    dim_rows = ", ".join(
        f"('{VEHICLE_POOL[i]}', '{ACCOUNT_POOL[i % len(ACCOUNT_POOL)]}', 'fleet-{i}')"
        for i in range(len(VEHICLE_POOL))
    )
    whens = " ".join(
        f"WHEN {i} THEN '{VEHICLE_POOL[i]}'" for i in range(len(VEHICLE_POOL))
    )
    return f"""
        WITH dim(vehicle_id, account_id, fleet) AS (VALUES {dim_rows}),
        viol AS (
            SELECT event_id, user_id, value,
                   CASE WHEN value >= 450.0 THEN 'extreme_high'
                        WHEN value <= 5.0   THEN 'extreme_low' END AS violation_type,
                   CASE CAST(user_id % {len(VEHICLE_POOL)} AS INT) {whens} END AS vehicle_id
            FROM events
            WHERE value >= 450.0 OR value <= 5.0
        )
        SELECT v.event_id, v.user_id, v.violation_type, v.value,
               v.vehicle_id, d.account_id, d.fleet
        FROM viol v JOIN dim d ON v.vehicle_id = d.vehicle_id
    """


ORACLES = {
    "ev_type_cooccurrence": """
        WITH g AS (
            SELECT DISTINCT user_id, date_trunc('hour', ts) AS h, event_type
            FROM events
        ),
        co AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(count(*) AS BIGINT) AS n_ab
            FROM g a JOIN g b
              ON a.user_id = b.user_id AND a.h = b.h
             AND a.event_type < b.event_type
            GROUP BY 1, 2
        ),
        pt AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
            FROM g GROUP BY 1
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_groups
            FROM (SELECT DISTINCT user_id, h FROM g)
        )
        SELECT type_a, type_b, n_ab,
               pa.n_t AS n_a, pb.n_t AS n_b, n_groups
        FROM co
        JOIN pt pa ON co.type_a = pa.event_type
        JOIN pt pb ON co.type_b = pb.event_type
        CROSS JOIN tot
    """,
    "ev_count_min": f"""
        WITH ds(d) AS (VALUES {", ".join(f"({d})" for d in range(CM_DEPTH))}),
        cells AS (
            SELECT ds.d,
                   md5('cm' || CAST(ds.d AS VARCHAR) || '|'
                       || CAST(e.user_id AS VARCHAR)) AS h
            FROM events e CROSS JOIN ds
            WHERE e.user_id IS NOT NULL
        ),
        sk AS (
            SELECT d, {hex8_int_sql('h')} % {CM_WIDTH} AS bucket,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM cells GROUP BY 1, 2
        ),
        tops AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
            FROM events WHERE user_id IS NOT NULL GROUP BY user_id
            ORDER BY n_exact DESC, user_id LIMIT {CM_TOPN}
        ),
        probe AS (
            SELECT t.user_id, t.n_exact, ds.d,
                   md5('cm' || CAST(ds.d AS VARCHAR) || '|'
                       || CAST(t.user_id AS VARCHAR)) AS h
            FROM tops t CROSS JOIN ds
        )
        SELECT p.user_id, p.n_exact,
               CAST(min(s.cnt) AS BIGINT) AS est_cm,
               (min(s.cnt) >= p.n_exact) AS never_under
        FROM probe p
        JOIN sk s ON s.d = p.d
                 AND s.bucket = {hex8_int_sql('p.h')} % {CM_WIDTH}
        GROUP BY p.user_id, p.n_exact
    """,
    "ev_session_overlap": f"""
        WITH t AS (
            SELECT user_id, event_id, epoch_ms(ts) AS e,
                   lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                       ORDER BY epoch_ms(ts), event_id) AS pe
            FROM events
        ), s AS (
            SELECT user_id, e,
                   CAST(sum(CASE WHEN pe IS NULL OR e - pe > 300000
                                 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY e, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_id
            FROM t
        ), sess AS (
            SELECT user_id, session_id,
                   min(e) AS s_lo, max(e) + 1 AS s_hi
            FROM s GROUP BY user_id, session_id
        ), mm AS (
            SELECT CAST(floor(min(epoch_ms(ts)) / {float(MAINT_PERIOD_MS)})
                        AS BIGINT) AS klo,
                   CAST(floor(max(epoch_ms(ts)) / {float(MAINT_PERIOD_MS)})
                        AS BIGINT) AS khi
            FROM events
        ), wins AS (
            SELECT unnest(generate_series(klo, khi)) * {MAINT_PERIOD_MS}
                       AS w_lo
            FROM mm
        ), ov AS (
            SELECT w.w_lo,
                   least(s.s_hi, w.w_lo + {MAINT_LEN_MS})
                       - greatest(s.s_lo, w.w_lo) AS ov_ms
            FROM sess s JOIN wins w
              ON s.s_lo < w.w_lo + {MAINT_LEN_MS} AND w.w_lo < s.s_hi
        )
        SELECT CAST(w_lo AS BIGINT) AS window_start_ms,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(ov_ms) AS BIGINT) AS overlap_ms_total
        FROM ov GROUP BY 1
    """,
    "ev_scd2_intervals": """
        SELECT user_id, event_type,
               CAST(row_number() OVER w AS BIGINT) AS version,
               epoch_ms(ts) AS valid_from_ms,
               lead(epoch_ms(ts)) OVER w AS valid_to_ms,
               (lead(epoch_ms(ts)) OVER w IS NULL) AS is_current,
               round(value, 2) AS value
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type
                     ORDER BY epoch_ms(ts), event_id)
    """,
    "ev_decayed_counts": """
        WITH b AS (
            SELECT event_type,
                   floor(epoch_ms(ts) / 3600000.0) AS h
            FROM events
        ),
        ref AS (SELECT max(h) AS ref_h FROM b),
        w AS (
            SELECT event_type,
                   floor(pow(2.0, -(ref.ref_h - h)) * 1000000.0 + 0.5) AS wm
            FROM b, ref
        )
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(wm) AS BIGINT) AS decayed_micro
        FROM w GROUP BY event_type
    """,
    "ev_props_variant": f"""
        SELECT CAST(floor(CAST(json_extract_string(props, '$.k') AS BIGINT) / 10)
                    AS BIGINT) AS k_bucket,
               count(*) AS n,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               {det_avg_sql("value", 4)} AS avg_value
        FROM events GROUP BY 1
    """,
    "ev_trending": """
        WITH c AS (
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
                   event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT hour_ts, event_type, n, rk FROM (
            SELECT hour_ts, event_type, n,
                   CAST(row_number() OVER (PARTITION BY hour_ts
                                           ORDER BY n DESC, event_type) AS BIGINT) AS rk
            FROM c
        ) WHERE rk <= 2
    """,
    "ev_latest_by_key": """
        SELECT user_id, event_type,
               round(arg_max(value, printf('%020d|%012d', epoch_ms(ts), event_id)), 2)
                   AS last_value,
               arg_max(event_id, printf('%020d|%012d', epoch_ms(ts), event_id))
                   AS last_event_id,
               max(epoch_ms(ts)) AS last_ms,
               count(*) AS n_versions
        FROM events GROUP BY user_id, event_type
    """,
    "ev_approx_distinct": """
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
               TRUE AS est_ok
        FROM events GROUP BY event_type
    """,
    "ev_kmv_distinct": f"""
        WITH dist AS (SELECT DISTINCT event_type, user_id FROM events),
        hs AS (
            SELECT event_type,
                   md5('kmv|' || CAST(user_id AS VARCHAR)) AS h
            FROM dist
        ),
        r AS (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h)
                       AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM hs
        ),
        kk AS (
            SELECT event_type,
                   CAST(max(n) AS BIGINT) AS n_exact,
                   max(CASE WHEN rn = LEAST(n, {KMV_K}) THEN h END) AS kth
            FROM r WHERE rn <= {KMV_K} GROUP BY event_type
        ),
        est AS (
            SELECT event_type, n_exact, kth,
                   CASE WHEN n_exact < {KMV_K} THEN CAST(n_exact AS DOUBLE)
                        ELSE {float(KMV_K - 1)} / (({hex8_int_sql('kth')})
                                                   / 4294967296.0)
                   END AS e
            FROM kk
        )
        SELECT event_type, n_exact, kth AS kth_hash,
               round(e, 4) AS est_distinct,
               (abs(e - n_exact) * 2 <= n_exact) AS est_ok
        FROM est
    """,
    "ev_kmv_set_ops": f"""
        WITH dist AS (SELECT DISTINCT event_type, user_id FROM events),
        hs AS (
            SELECT event_type,
                   md5('kmv|' || CAST(user_id AS VARCHAR)) AS h
            FROM dist
        ),
        r AS (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h)
                       AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM hs
        ),
        sk AS (SELECT event_type, h FROM r WHERE rn <= {KMV_K}),
        nn AS (
            SELECT event_type, CAST(max(n) AS BIGINT) AS n_exact
            FROM r GROUP BY event_type
        ),
        tp AS (
            SELECT x.event_type AS type_a, y.event_type AS type_b,
                   x.n_exact AS n_a, y.n_exact AS n_b
            FROM nn x JOIN nn y ON x.event_type < y.event_type
        ),
        ex AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(count(*) AS BIGINT) AS inter_exact
            FROM dist a JOIN dist b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        ),
        mu AS (
            SELECT tp.type_a, tp.type_b, s.h,
                   max(CASE WHEN s.event_type = tp.type_a THEN 1 ELSE 0 END)
                       AS in_a,
                   max(CASE WHEN s.event_type = tp.type_b THEN 1 ELSE 0 END)
                       AS in_b
            FROM tp JOIN sk s ON s.event_type IN (tp.type_a, tp.type_b)
            GROUP BY 1, 2, 3
        ),
        mr AS (
            SELECT *, row_number() OVER (PARTITION BY type_a, type_b
                                         ORDER BY h) AS rn
            FROM mu
        ),
        mm AS (
            SELECT type_a, type_b,
                   CAST(count(*) AS BIGINT) AS m_size,
                   max(h) AS kth,
                   CAST(sum(in_a * in_b) AS BIGINT) AS n_both
            FROM mr WHERE rn <= {KMV_K} GROUP BY 1, 2
        ),
        est AS (
            SELECT tp.type_a, tp.type_b, tp.n_a, tp.n_b,
                   COALESCE(ex.inter_exact, 0) AS inter_exact,
                   tp.n_a + tp.n_b - COALESCE(ex.inter_exact, 0)
                       AS union_exact,
                   CASE WHEN mm.m_size < {KMV_K}
                        THEN CAST(mm.m_size AS DOUBLE)
                        ELSE {float(KMV_K - 1)} / (({hex8_int_sql('mm.kth')})
                                                   / 4294967296.0)
                   END AS e_u,
                   mm.m_size, mm.n_both
            FROM tp JOIN mm ON tp.type_a = mm.type_a
                           AND tp.type_b = mm.type_b
            LEFT JOIN ex ON tp.type_a = ex.type_a AND tp.type_b = ex.type_b
        ),
        fin AS (
            SELECT *,
                   CASE WHEN m_size < {KMV_K} THEN CAST(n_both AS DOUBLE)
                        ELSE (CAST(n_both AS DOUBLE) / m_size) * e_u
                   END AS e_i
            FROM est
        )
        SELECT type_a, type_b, n_a, n_b,
               CAST(inter_exact AS BIGINT) AS inter_exact,
               CAST(union_exact AS BIGINT) AS union_exact,
               round(e_u, 4) AS est_union, round(e_i, 4) AS est_inter,
               (abs(e_u - union_exact) * 2 <= union_exact) AS union_ok,
               (abs(e_i - inter_exact) * 2 <= union_exact) AS inter_ok
        FROM fin
    """,
    "ev_type_counts": f"""
        SELECT event_type, count(*) AS n, {det_sum_sql("value", 2)} AS total_value
        FROM events GROUP BY event_type
    """,
    "ev_sessionize_300s": """
        WITH t AS (
            SELECT user_id, event_id, epoch_ms(ts) AS e,
                   lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS pe
            FROM events
        ), s AS (
            SELECT user_id, e,
                   CAST(sum(CASE WHEN pe IS NULL OR e - pe > 300000 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY e, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM t
        )
        SELECT user_id, session_id,
               min(e) AS start_ms, max(e) AS end_ms, count(*) AS n_events
        FROM s GROUP BY user_id, session_id
    """,
    "ev_sessionize_2h": """
        WITH t AS (
            SELECT user_id, event_id, epoch_ms(ts) AS e,
                   lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS pe
            FROM events
        ), s AS (
            SELECT user_id, e,
                   CAST(sum(CASE WHEN pe IS NULL OR e - pe > 7200000 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY e, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM t
        )
        SELECT user_id, session_id,
               min(e) AS start_ms, max(e) AS end_ms, count(*) AS n_events
        FROM s GROUP BY user_id, session_id
    """,
    "ev_hourly_tumbling": f"""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
               event_type, count(*) AS n, {det_sum_sql("value", 2)} AS total_value
        FROM events GROUP BY 1, 2
    """,
    "ev_sliding_30m_10m": f"""
        -- expand each event into the 3 epoch-aligned 30-min windows
        -- (10-min slide) that contain it, mirroring Spark's F.window
        WITH e AS (SELECT epoch(ts) AS es, event_type, value FROM events),
        x AS (
            SELECT unnest(generate_series(
                       CAST(floor(es / 600) * 600 - 1200 AS BIGINT),
                       CAST(floor(es / 600) * 600 AS BIGINT),
                       600)) AS ws,
                   event_type, value
            FROM e
        )
        SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type,
               count(*) AS n,
               {det_sum_sql("value", 2)} AS total_value
        FROM x GROUP BY 1, 2
    """,
    "ev_user_running_stats": """
        SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
               round(sum(value) OVER (
                   PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                   ROWS UNBOUNDED PRECEDING
               ), 2) AS running_total,
               epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                   PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
               ) AS gap_ms,
               lead(event_id) OVER (
                   PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
               ) AS next_event_id
        FROM events
    """,
    "ev_range_frame_sum": f"""
        SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
               {det_sum_over_sql(
                   "value",
                   "OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) "
                   "RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW)",
                   2,
               )} AS trailing_10m_sum,
               CAST(count(*) OVER (
                   PARTITION BY user_id ORDER BY epoch_ms(ts)
                   RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS trailing_10m_n
        FROM events
    """,
    "ev_value_band_join": """
        SELECT event_id, value, band
        FROM events
        JOIN (VALUES ('low', 0.0, 100.0),
                     ('mid', 80.0, 250.0),
                     ('high', 225.0, 500.0)) AS b(band, lo, hi)
          ON value >= lo AND value < hi
    """,
    "ev_cube": f"""
        SELECT coalesce(event_type, 'ALL') AS event_type,
               coalesce(hr, -1) AS hr,
               CAST(grouping(event_type) * 2 + grouping(hr) AS BIGINT) AS gid,
               count(*) AS n,
               {det_sum_sql("value", 2)} AS total_value
        FROM (
            SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, value
            FROM events
        )
        GROUP BY CUBE (event_type, hr)
    """,
    "ev_time_rollup": f"""
        SELECT coalesce(day, 'ALL') AS day,
               coalesce(hr, -1) AS hr,
               count(*) AS n,
               {det_sum_sql("value", 2)} AS total_value
        FROM (
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   CAST(hour(ts) AS BIGINT) AS hr,
                   value
            FROM events
        )
        GROUP BY ROLLUP (day, hr)
    """,
    "ev_percentile_stats": f"""
        WITH s AS (
            SELECT value,
                   row_number() OVER (ORDER BY value, event_id) AS rn,
                   count(*) OVER () AS n
            FROM events
        )
        SELECT count(*) AS cnt,
               min(value) AS min_value,
               max(value) AS max_value,
               {det_avg_sql("value", 4)} AS avg_value,
               max(CASE WHEN rn = CAST(floor(n * 0.5)  AS BIGINT) + 1 THEN value END) AS p50,
               max(CASE WHEN rn = CAST(floor(n * 0.95) AS BIGINT) + 1 THEN value END) AS p95,
               max(CASE WHEN rn = CAST(floor(n * 0.99) AS BIGINT) + 1 THEN value END) AS p99
        FROM s
    """,
    "ev_attribution_last_touch": f"""
        WITH e AS (
            SELECT event_id, user_id, event_type, epoch_ms(ts) AS tms
            FROM events
        ),
        c AS (
            SELECT user_id, event_id AS click_event_id, tms AS click_ms
            FROM e WHERE event_type = 'click'
        ),
        c1 AS (
            SELECT user_id, click_ms,
                   max(click_event_id) AS click_event_id
            FROM c GROUP BY user_id, click_ms
        ),
        p AS (
            SELECT user_id, event_id AS purchase_event_id, tms AS purchase_ms
            FROM e WHERE event_type = 'purchase'
        )
        SELECT p.purchase_event_id, p.user_id, p.purchase_ms,
               m.click_event_id, m.click_ms,
               p.purchase_ms - m.click_ms AS gap_ms
        FROM p LEFT JOIN LATERAL (
            SELECT click_event_id, click_ms FROM c1
            WHERE c1.user_id = p.user_id
              AND c1.click_ms <= p.purchase_ms
              AND c1.click_ms >= p.purchase_ms - {ATTR_WINDOW_MS}
            ORDER BY click_ms DESC LIMIT 1
        ) m ON TRUE
    """,
    "ev_approx_quantile": """
        WITH s AS (
            SELECT event_type, event_id, value,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY value, event_id
                   ) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM events
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               max(CASE WHEN rn = CAST(floor(n * 0.5)  AS BIGINT) + 1 THEN value END) AS p50_exact,
               max(CASE WHEN rn = CAST(floor(n * 0.95) AS BIGINT) + 1 THEN value END) AS p95_exact,
               TRUE AS p50_ok,
               TRUE AS p95_ok
        FROM s GROUP BY event_type
    """,
    "ev_percentile_by_type": f"""
        WITH s AS (
            SELECT event_type, value,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY value, event_id
                   ) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM events
        )
        SELECT event_type,
               count(*) AS cnt,
               {det_avg_sql("value", 4)} AS avg_value,
               max(CASE WHEN rn = CAST(floor(n * 0.5)  AS BIGINT) + 1 THEN value END) AS p50,
               max(CASE WHEN rn = CAST(floor(n * 0.95) AS BIGINT) + 1 THEN value END) AS p95
        FROM s GROUP BY event_type
    """,
    "ev_percentile_last1000": f"""
        WITH recent AS (
            SELECT event_id, value
            FROM events
            ORDER BY epoch_ms(ts) DESC, event_id DESC
            LIMIT 1000
        ),
        s AS (
            SELECT value,
                   row_number() OVER (ORDER BY value, event_id) AS rn,
                   count(*) OVER () AS n
            FROM recent
        )
        SELECT count(*) AS cnt,
               min(value) AS min_value,
               max(value) AS max_value,
               {det_avg_sql("value", 4)} AS avg_value,
               max(CASE WHEN rn = CAST(floor(n * 0.5)  AS BIGINT) + 1 THEN value END) AS p50,
               max(CASE WHEN rn = CAST(floor(n * 0.95) AS BIGINT) + 1 THEN value END) AS p95,
               max(CASE WHEN rn = CAST(floor(n * 0.99) AS BIGINT) + 1 THEN value END) AS p99
        FROM s
    """,
    "ev_histogram": f"""
        SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
               count(*) AS n, {det_avg_sql("value", 4)} AS avg_value
        FROM events GROUP BY 1
    """,
    "ev_props_extract": """
        WITH t AS (
            SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events
        )
        SELECT CAST(floor(k / 10.0) AS BIGINT) AS k_bucket,
               count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
        FROM t GROUP BY 1
    """,
    "ev_threshold_classify": """
        SELECT event_id, user_id, event_type, value,
               CASE WHEN value >= 450.0 THEN 'extreme_high'
                    WHEN value <= 5.0   THEN 'extreme_low' END AS violation_type,
               epoch_ms(ts) AS ts_ms
        FROM events
        WHERE value >= 450.0 OR value <= 5.0
    """,
    "ev_heavy_hitters": f"""
        WITH it AS (
            SELECT CAST(user_id AS VARCHAR) AS item,
                   CAST((({hex8_int_sql("md5(CAST(user_id AS VARCHAR))")})
                        % {MG_SHARDS} + {MG_SHARDS}) % {MG_SHARDS} AS BIGINT)
                       AS shard
            FROM events
        ),
        cnt AS (SELECT shard, item, count(*) AS c FROM it GROUP BY 1, 2),
        tot AS (SELECT shard, CAST(sum(c) AS BIGINT) AS m FROM cnt GROUP BY 1),
        freq AS (
            SELECT cnt.shard, CAST(count(*) AS BIGINT) AS n_frequent
            FROM cnt JOIN tot USING (shard)
            WHERE c > tot.m // {MG_K + 1}
            GROUP BY cnt.shard
        ),
        per AS (
            SELECT tot.shard, tot.m,
                   coalesce(freq.n_frequent, 0) AS n_frequent
            FROM tot LEFT JOIN freq USING (shard)
        ),
        top AS (
            SELECT shard, item AS top_item, CAST(c AS BIGINT) AS top_count
            FROM cnt
            QUALIFY row_number() OVER (
                PARTITION BY shard ORDER BY c DESC, item ASC
            ) = 1
        )
        SELECT per.shard, per.m, per.n_frequent,
               TRUE AS all_frequent_tracked,
               TRUE AS underestimate_ok,
               top.top_item, top.top_count
        FROM per JOIN top USING (shard)
    """,
    "ev_user_topk": f"""
        SELECT user_id, count(*) AS n_events, {det_sum_sql("value", 2)} AS total_value
        FROM events GROUP BY user_id
        ORDER BY n_events DESC, user_id
        LIMIT 10
    """,
    "ev_enrich_vehicle": _enrich_vehicle_sql(),
}
