"""Product-analytics / time-series operators over the ``events`` table.

The reference's consumer feeds dashboards (chart sink K8, counter sink K5
— kafkaConsumer.js:229-233, visualization.py:21-48); this module supplies
the standard event-analytics queries such a dashboard needs, each built
scale-first:

- ev_funnel            — sequential conversion funnel (view → click →
                         purchase) via layered per-user window minima
- ev_retention         — signup-cohort × day-offset retention matrix
- ev_anomaly_zscore    — rolling z-score outlier detection over a
                         trailing per-user window
- ev_locf_resample     — hypertable-style gap-fill: hourly grid per user,
                         last-observation-carried-forward
- ev_pattern_match     — CEP sequence match (click FOLLOWED BY purchase
                         within 30 min), every match emitted
- ev_quantile_sketch_rollup — re-aggregatable bottom-k quantile sketch
                         (hourly partials merged globally, gated vs
                         exact ranks — the order-statistics twin of
                         ev_hll_partial_merge)

Scale notes: every wide op here keys on ``user_id`` (the natural,
high-cardinality stream key — same partitioning discipline as the
reference's device_uuid keying, mqttToKafka.js:105). The funnel's three
window layers share ONE partitioning, so Catalyst plans a single
exchange; retention joins cohort-to-activity on user_id (co-partitioned
shuffle, no broadcast needed because both sides scale together); the
anomaly window is bounded (trailing 20 rows) so state per key is O(1);
the LOCF grid expands to (hours spanned) rows per user — bounded by the
retention window of the table, not by event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_harshevents_spark.queries._util import load, ts_millis

FUNNEL_STAGES = ("view", "click", "purchase")


def ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel: a user converts stage k only with an event of
    stage k's type STRICTLY AFTER their stage-(k-1) conversion time.

    Three layered `min(when(...))` windows, all partitioned by user_id
    only — one hash exchange, three Window operators back-to-back with
    no intervening shuffle (plan-asserted in tests/test_plans.py). The
    final roll-up is a single-row aggregate; division happens on exact
    long counts, so the rounded rates are engine-stable.
    """
    w = Window.partitionBy("user_id")
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", ts_millis("ts").alias("tms")
    )
    t1 = e.withColumn(
        "t1", F.min(F.when(F.col("event_type") == FUNNEL_STAGES[0], F.col("tms"))).over(w)
    )
    t2 = t1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == FUNNEL_STAGES[1]) & (F.col("tms") > F.col("t1")),
                F.col("tms"),
            )
        ).over(w),
    )
    t3 = t2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == FUNNEL_STAGES[2]) & (F.col("tms") > F.col("t2")),
                F.col("tms"),
            )
        ).over(w),
    )
    users = t3.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return users.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_view_click"),
        F.count("t3").alias("n_full_funnel"),
        # ANSI-safe: 0-entrant funnels emit NULL rates, not a crash
        F.when(
            F.count("t1") > 0, F.round(F.count("t2") / F.count("t1"), 4)
        ).alias("view_to_click"),
        F.when(
            F.count("t2") > 0, F.round(F.count("t3") / F.count("t2"), 4)
        ).alias("click_to_purchase"),
    )


def ev_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day; for each
    (cohort, day-offset) cell, how many distinct cohort members were
    active that day.

    Cohort assignment and daily activity both come from ONE distinct
    (user_id, day) pass; the self-join is user_id-to-user_id —
    co-partitioned, skew-free (each user appears once on the cohort
    side). Output is O(days²) cells regardless of event volume.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    act = e.distinct()
    cohort = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        act.join(cohort, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            F.datediff("day", "cohort_day").cast("long").alias("offset_days"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def ev_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling anomaly detection: each event scored against the mean/std
    of its user's previous 20 events; |z| > 3 rows are emitted.

    The frame is bounded (ROWS 20 PRECEDING .. 1 PRECEDING), so window
    state is constant per key and the single user_id exchange is the
    only wide step — the streaming twin (``streaming/anomaly.py``) is an
    applyInPandasWithState op with a 20-element ring buffer per device,
    exactly the reference's last-N-buffer pattern (mqtt_publish.js:80-83)
    turned into a detector.
    """
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", ts_millis("ts").alias("ts_ms"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(-20, -1)
    )
    scored = e.select(
        "event_id",
        "user_id",
        "value",
        F.count("value").over(w).alias("n_prev"),
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
    )
    return (
        scored.filter(
            (F.col("n_prev") >= 10)
            & (F.col("sd") > 1e-9)
            & (F.abs((F.col("value") - F.col("mu")) / F.col("sd")) > 3.0)
        )
        .select(
            "event_id",
            "user_id",
            "value",
            F.round((F.col("value") - F.col("mu")) / F.col("sd"), 2).alias("zscore"),
        )
    )


def ev_locf_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill resample (the hypertable `time_bucket_gapfill` + `locf`
    shape): per user, an hourly grid spanning that user's own activity
    window, carrying the last observed value forward into silent hours.

    Stages: (1) one groupBy collapses events to at most one row per
    (user, hour) — `max_by(value, ts)` picks the latest observation in
    the hour map-side; (2) the grid is generated per user with
    `sequence(min_hr, max_hr)` — rows ∝ hours spanned, never events;
    (3) a co-partitioned left join pins observations onto the grid; (4)
    `last(value, ignorenulls)` over an unbounded-preceding user window
    fills the gaps. Every wide step keys on user_id.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("hour", "ts").alias("hr"), "ts", "value"
    )
    obs = e.groupBy("user_id", "hr").agg(F.max_by("value", "ts").alias("v"))
    grid = (
        obs.groupBy("user_id")
        .agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
        .select(
            "user_id",
            F.explode(F.sequence("mn", "mx", F.expr("interval 1 hour"))).alias("hr"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(obs, ["user_id", "hr"], "left")
        .select(
            "user_id",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            F.round(F.last("v", ignorenulls=True).over(w), 2).alias("value_locf"),
            F.col("v").isNotNull().cast("long").alias("observed"),
        )
    )


PATTERN_FIRST = "click"
PATTERN_SECOND = "purchase"
PATTERN_WITHIN_MS = 30 * 60 * 1000


def ev_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP sequence match — Flink's headline operator (``CEP.pattern(A
    .followedBy(B)).within(30 min)``) expressed relationally: for EVERY
    ``click``, the earliest same-user ``purchase`` strictly after it (in
    the total event order) and within 30 minutes. Each click yields at
    most one match (skip-till-next-match semantics); unmatched clicks are
    dropped, like a CEP timeout discarding partial matches.

    Differs from ``ev_funnel``: the funnel reports one conversion per
    user; this emits every matched pair — the per-instance view a CEP
    engine gives (the reference correlates its two streams the same way,
    per-record, in the consumer's latency log, kafkaConsumer.js:201-211).

    Scale shape: ONE hash exchange on ``user_id``; the forward-looking
    conditional ``min`` is a single Window operator whose frame
    (1 FOLLOWING → end) is evaluated per user partition — no self-join,
    no range blowup. (user_id, tms, event_id) is a total order shared by
    the oracle, so row-frame semantics are engine-identical.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", ts_millis("ts").alias("tms")
    )
    return pattern_match_frame(e)


def pattern_match_frame(
    e: DataFrame,
    first_type: str = PATTERN_FIRST,
    second_type: str = PATTERN_SECOND,
    within_ms: int = PATTERN_WITHIN_MS,
) -> DataFrame:
    """The CEP core over any ``(user_id, event_id, event_type, tms)``
    frame — factored out so property tests can drive it with arbitrary
    event sets (tests/test_properties.py)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("tms", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    scored = e.withColumn(
        "purchase_ms",
        F.min(F.when(F.col("event_type") == second_type, F.col("tms"))).over(w),
    )
    return (
        scored.filter(
            (F.col("event_type") == first_type)
            & F.col("purchase_ms").isNotNull()
            & (F.col("purchase_ms") <= F.col("tms") + F.lit(within_ms))
        )
        .select(
            "user_id",
            F.col("event_id").alias("click_event_id"),
            F.col("tms").alias("click_ms"),
            "purchase_ms",
            (F.col("purchase_ms") - F.col("tms")).alias("gap_ms"),
        )
    )


def ev_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence mining: the first-order Markov transition matrix
    over each user's event stream — P(next event type | current), the
    model behind next-action prediction and anomalous-flow detection.

    One user_id exchange feeds a single `lead` window; pair counting is
    one aggregation (map-side combined); the per-row conditional
    probability divides by a windowed total partitioned on the FROM
    state — 5 states, but the heavy data has already collapsed to the
    5×5 matrix before that window, so partition size is the state-space,
    not the stream.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", ts_millis("ts").alias("tms"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("tms", "event_id")
    pairs = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    counts = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("cnt"))
    wt = Window.partitionBy("cur")
    return counts.select(
        "cur",
        "nxt",
        "cnt",
        F.round(F.col("cnt") / F.sum("cnt").over(wt), 4).alias("prob"),
    )


def ev_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / stickiness — the engagement headline metric. The
    trailing-7-day distinct count does NOT use a range window (count
    distinct over a moving frame re-scans per row): each (user, active
    day) pair instead CONTRIBUTES to the 7 target days it keeps the user
    "weekly active" for — a bounded 7× explode, then one distinct count
    per day. Both aggregations key on the day; expansion is constant, so
    the plan is two keyed shuffles at any scale.
    """
    act = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    dau = act.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = act.select(
        "user_id",
        F.explode(
            F.expr("sequence(day, date_add(day, 6), interval 1 day)")
        ).alias("d"),
    )
    wau = contrib.groupBy("d").agg(F.count_distinct("user_id").alias("wau"))
    return (
        dau.join(wau, dau.day == wau.d)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
        )
    )


AB_SALT = "ab1|"


def ev_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation readout: users deterministically hash-bucketed
    into variants A/B (md5-derived — the assignment is a pure function
    of user_id, reproducible anywhere, exactly how production bucketing
    works), compared on purchase conversion with the two-proportion
    z-statistic. One row out; every aggregate is conditional in a single
    pass over the per-user conversion table.
    """
    from kafka_flink_harshevents_spark.queries.documents import _md5_unit

    e = load(spark, sf_dir, "events").select("user_id", "event_type")
    # conversion = more purchases than clicks: mid-range probability at
    # every SF (everyone has >=1 purchase in the synthetic stream, so a
    # plain did-purchase flag would degenerate to rate 1.0 and z = 0/0)
    users = e.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("long"))
            > F.sum((F.col("event_type") == "click").cast("long"))
        ).cast("int").alias("converted")
    )
    arm = users.withColumn(
        "variant", F.when(_md5_unit(F.col("user_id"), AB_SALT) < 0.5, "A").otherwise("B")
    )
    is_a = F.col("variant") == "A"
    agg = arm.agg(
        F.sum(is_a.cast("long")).alias("n_a"),
        F.sum((~is_a).cast("long")).alias("n_b"),
        F.sum(F.when(is_a, F.col("converted")).otherwise(0)).cast("long").alias("conv_a"),
        F.sum(F.when(~is_a, F.col("converted")).otherwise(0)).cast("long").alias("conv_b"),
    )
    # Every division is guarded BEFORE it is evaluated: with ANSI mode
    # on (this session's default), an empty hash variant (n_a or n_b =
    # 0 — trivially hit by tiny fixtures) would raise DIVIDE_BY_ZERO
    # even inside an un-taken CASE branch if the guard itself computed
    # the division. CaseWhen short-circuits at runtime, so each rate /
    # the z-stat only divides when its own guard held.
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    se_safe = F.when(
        both,
        F.sqrt(pool * (1 - pool) * (1 / F.col("n_a") + 1 / F.col("n_b"))),
    )
    return agg.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.when(F.col("n_a") > 0, F.round(p_a, 4)).alias("rate_a"),
        F.when(F.col("n_b") > 0, F.round(p_b, 4)).alias("rate_b"),
        # Degenerate splits (empty variant, or pooled rate 0 / 1 making
        # se == 0): both engines emit NULL explicitly — Spark's ANSI
        # divide and DuckDB's IEEE inf/nan would otherwise diverge.
        F.when(se_safe > 0, F.round((p_a - p_b) / se_safe, 4)).alias("z_stat"),
    )


PATH_GAP_MS = 7_200_000  # the consolidating ev_sessionize_2h gap
PATH_MAX_STEPS = 8


def ev_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: sessionize each user's stream (2 h
    inactivity gap — the consolidating ``ev_sessionize_2h`` variant),
    read off the ordered sequence of event types (capped at the first
    8 steps, the standard path-analysis truncation), and count how many
    sessions / distinct users walked each path — the Sankey-diagram /
    user-flow query every product-analytics engine ships.

    Scale shape: :func:`~..operators.sessions.sessionize_rows` spends
    ONE user_id exchange that the per-session aggregation reuses
    (HashPartitioning(user_id) satisfies the (user_id, session_id)
    clustering — no second shuffle before paths collapse). The
    ``collect_list`` is per SESSION — bounded by the inactivity gap,
    never by stream length — and ``slice(.., 8)`` caps the emitted
    path. ``array_sort`` over (tms, event_id, type) structs pins a
    total order shared with the oracle's ``ORDER BY tms, event_id``.
    """
    from kafka_flink_harshevents_spark.operators.sessions import sessionize_rows

    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", ts_millis("ts").alias("tms")
    )
    rows = sessionize_rows(
        e, key_col="user_id", ts_col="tms", gap=PATH_GAP_MS, order_cols=("event_id",)
    )
    sess = rows.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("tms", "event_id", "event_type"))
                    ),
                    lambda s: s.event_type,
                ),
                1,
                PATH_MAX_STEPS,
            ),
            ">",
        ).alias("path")
    )
    return sess.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count_distinct("user_id").alias("n_users"),
    )


def ev_interarrival_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival–time analysis: for each (user, event_type) stream,
    the gap to the previous same-type event, histogrammed by order of
    magnitude (decimal digits of the millisecond gap — an exact integer
    bucket, so the histogram is engine-stable by construction, unlike a
    float ``log10`` whose last ULP could flip a bucket edge). Per
    (type, magnitude) cell: event count and mean gap — the arrival-rate
    profile behind capacity planning and anomaly baselines.

    One (user_id, event_type)-keyed exchange feeds the lag window; the
    histogram collapses map-side to |types| × ~8 magnitude cells. Mean
    gap divides two exact BIGINTs, identical in both engines.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", ts_millis("ts").alias("tms")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("tms", "event_id")
    gaps = e.select(
        "event_type", (F.col("tms") - F.lag("tms").over(w)).alias("gap_ms")
    ).filter(F.col("gap_ms").isNotNull())
    return gaps.groupBy(
        "event_type",
        F.length(F.col("gap_ms").cast("string")).cast("long").alias("magnitude"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("gap_ms") / F.count(F.lit(1)), 2).alias("avg_gap_ms"),
    )


HLL_REL_ERR = 0.05  # default lgConfigK=12 gives ~1.6% — 3σ headroom


def ev_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable sketch rollup — the Druid/Pinot ingestion-rollup
    shape: per-(day, hour) HLL sketch partials built once at ingest
    (``hll_sketch_agg``), then MERGED to daily uniques without touching
    raw events again (``hll_union_agg``). This is the property that
    makes sketch columns storable in rollup tables: union of partials
    commutes with the aggregation.

    Gate entry (estimates are sketch-implementation-specific): emits
    per day the EXACT distinct count plus ``merge_ok`` — whether the
    merged-sketch estimate lands within 5% of exact — so the driver
    hash-checks the re-aggregation property itself each round.

    Scale shape: partials collapse map-side to 24 rows/day whatever the
    event volume; the merge and the exact-count join both key on day.
    At 100 TB the exact branch is the expensive one — production keeps
    only the sketch branch, which this entry proves is safe to do.
    """
    e = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hr"),
        "user_id",
    )
    hourly = e.groupBy("day", "hr").agg(F.hll_sketch_agg("user_id").alias("sk"))
    daily = hourly.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = e.groupBy("day").agg(F.count_distinct("user_id").alias("exact_users"))
    return exact.join(daily, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= F.lit(HLL_REL_ERR) * F.col("exact_users")
        )
        .cast("long")
        .alias("merge_ok"),
    )


QSK_K = 1024  # bottom-k sample size (rank error ~ 0.5/sqrt(K) ≈ 1.6%)
QSK_TOL = 0.05  # gate tolerance: ~3 sigma at K=1024, flat across q
QSK_QS = (0.5, 0.9, 0.99)


def ev_quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable QUANTILE rollup — the order-statistics twin of
    ``ev_hll_partial_merge``: per-(day, hour) BOTTOM-K sketches built
    at ingest, merged to a global sketch without touching raw events
    again, quantiles estimated from the merged sketch and gated
    against exact ranks.

    The sketch is a bottom-k sample under a deterministic row hash
    (Bar-Yossef et al.'s KMV construction repurposed for uniform
    sampling): keep the K rows with the smallest ``xxhash64(row)``.
    Hash-determinism buys two properties RNG sampling lacks — the
    merge is EXACTLY associative (bottom-K of a union = bottom-K of
    the parts' bottom-Ks, so partials commute with rollup by
    construction, not approximately), and the whole estimate is a pure
    function of the data, so the driver can hash-check the gate every
    round. Estimation error is the uniform-sample bound
    ~``sqrt(q(1-q)/K)``; K = 1024 keeps it well inside the 5% gate.

    Gate entry (sample quantiles are sketch-specific): per q in
    {0.5, 0.9, 0.99} emits the exact row count and ``rank_ok`` —
    whether the estimate's EXACT rank lands within ``QSK_TOL``·n of
    q·n.

    Scale shape: hourly partials are a keyed Window over (day, hr) —
    shuffle ∝ events once, state K rows per group; the merge sorts
    only hours×K partial rows (bounded, never raw data); the exact
    branch (one broadcast join pass for ranks) exists only to gate —
    production keeps the sketch branch, which this entry proves safe.
    At 100 TB partials live in the rollup table next to the HLL
    column, and re-aggregation cost is ∝ groups, not rows.
    """
    e = load(spark, sf_dir, "events").select(
        "value",
        F.xxhash64("user_id", "ts", "value", "event_type").alias("_h"),
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hr"),
    )
    w = Window.partitionBy("day", "hr").orderBy("_h")
    partials = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= QSK_K)
        .select("value", "_h")
    )
    # merge: global bottom-K of the partials (bounded: hours × K rows)
    merged = partials.orderBy("_h").limit(QSK_K)
    arr = merged.agg(F.sort_array(F.collect_list("value")).alias("vs"))
    ests = arr.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(str(q)).alias("q"),
                        F.element_at(
                            "vs",
                            F.least(
                                (F.floor(F.lit(q) * F.size("vs")) + 1),
                                F.size("vs").cast("long"),
                            ).cast("int"),
                        ).alias("est"),
                    )
                    for q in QSK_QS
                ]
            )
        ).alias("e")
    ).select("e.q", "e.est")
    vals = load(spark, sf_dir, "events").select("value")
    ranks = (
        vals.crossJoin(F.broadcast(ests))
        .groupBy("q")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") <= F.col("est")).cast("long")).alias(
                "rank_est"
            ),
        )
    )
    return ranks.select(
        "q",
        F.col("n").cast("long").alias("n"),
        (
            F.abs(
                F.col("rank_est").cast("double")
                - F.expr("CAST(q AS DOUBLE)") * F.col("n")
            )
            <= F.lit(QSK_TOL) * F.col("n")
        )
        .cast("long")
        .alias("rank_ok"),
    )


RFM_TIERS = 4


def ev_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic marketing-analytics operator:
    each user scored 1..4 on Recency (last activity), Frequency (event
    count) and Monetary (exact value-cents total), quartiles assigned
    by GLOBAL rank. Score k = ``(rank-1)·4 div n + 1`` — pure integer
    arithmetic on the exact rank, so tier edges are engine-identical
    (no float percentile, no ntile implementation differences).

    Scale shape: one user_id aggregation collapses the stream to one
    row per user; the three global ranks use the distributed bucketed
    rank (`operators/ranking.py`) — NO unpartitioned Window, the
    repo-wide rule. Monetary ranks on integer cents (per-row
    quantization), so ordering never depends on float sum order.
    """
    from kafka_flink_harshevents_spark.operators.ranking import (
        with_exact_rank_grouped,
    )

    e = load(spark, sf_dir, "events").select(
        "user_id", ts_millis("ts").alias("tms"), "value"
    )
    users = e.groupBy("user_id").agg(
        F.max("tms").alias("last_ms"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    # the user frame is business-grain tiny (one row per user) but
    # feeds THREE rank passes, each of which would otherwise re-scan
    # and re-aggregate the events fact; materialize it once — at any
    # scale this is ∝ users, never ∝ events
    users = users.localCheckpoint(eager=True)

    # ONE grouped-rank pass ranks all three metrics: stack the user
    # frame to (user_id, metric, mval) and rank per metric group — the
    # critical path is a single rank machine instead of three chained
    # (or even three concurrent) ones. Metric values are exact in
    # double (epoch-ms < 2^53, counts, cents), so ordering is
    # unchanged; ties still break on user_id inside the group.
    stacked = users.selectExpr(
        "user_id",
        "stack(3, 'r', CAST(last_ms AS DOUBLE),"
        "         'f', CAST(n_events AS DOUBLE),"
        "         'm', CAST(cents AS DOUBLE)) AS (metric, mval)",
    )
    ranked = with_exact_rank_grouped(stacked, "metric", "mval", "user_id")
    # integer `div`: DuckDB CAST(double AS BIGINT) ROUNDS while
    # Spark's cast truncates — avoid the float entirely
    scores = ranked.select(
        "user_id",
        "metric",
        F.expr(f"(rn - 1) * {RFM_TIERS} div n + 1").alias("score"),
    )
    wide = (
        scores.groupBy("user_id")
        .pivot("metric", ["r", "f", "m"])
        .agg(F.first("score"))
        .withColumnsRenamed({"r": "r_score", "f": "f_score", "m": "m_score"})
    )
    scored = users.join(wide, "user_id")
    return scored.select(
        "user_id",
        "last_ms",
        "n_events",
        F.round(F.col("cents") / 100.0, 2).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws(
            "-", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ).alias("segment"),
    )


QUERIES = {
    "ev_funnel": ev_funnel,
    "ev_pattern_match": ev_pattern_match,
    "ev_markov_transitions": ev_markov_transitions,
    "ev_ab_test": ev_ab_test,
    "ev_dau_wau": ev_dau_wau,
    "ev_retention": ev_retention,
    "ev_anomaly_zscore": ev_anomaly_zscore,
    "ev_locf_resample": ev_locf_resample,
    "ev_session_paths": ev_session_paths,
    "ev_interarrival_hist": ev_interarrival_hist,
    "ev_hll_partial_merge": ev_hll_partial_merge,
    "ev_quantile_sketch_rollup": ev_quantile_sketch_rollup,
    "ev_rfm_segments": ev_rfm_segments,
}

def _ab_sql() -> str:
    from kafka_flink_harshevents_spark.queries.documents import _md5_unit_sql

    u = _md5_unit_sql("user_id", AB_SALT)
    return f"""
        WITH u AS (
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        > sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS INTEGER) AS converted
            FROM events GROUP BY 1
        ),
        arm AS (
            SELECT converted,
                   CASE WHEN {u} < 0.5 THEN 'A' ELSE 'B' END AS variant
            FROM u
        ),
        g AS (
            SELECT CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                   CAST(sum(CASE WHEN variant = 'A' THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
                   CAST(sum(CASE WHEN variant = 'B' THEN converted ELSE 0 END) AS BIGINT) AS conv_b
            FROM arm
        )
        SELECT n_a, n_b, conv_a, conv_b,
               CASE WHEN n_a > 0 THEN round(conv_a / n_a, 4) END AS rate_a,
               CASE WHEN n_b > 0 THEN round(conv_b / n_b, 4) END AS rate_b,
               CASE WHEN n_a > 0 AND n_b > 0
                     AND sqrt(((conv_a + conv_b) / (n_a + n_b))
                          * (1 - (conv_a + conv_b) / (n_a + n_b))
                          * (1.0 / n_a + 1.0 / n_b)) > 0
                    THEN round((conv_a / n_a - conv_b / n_b)
                          / sqrt(((conv_a + conv_b) / (n_a + n_b))
                                 * (1 - (conv_a + conv_b) / (n_a + n_b))
                                 * (1.0 / n_a + 1.0 / n_b)), 4)
               END AS z_stat
        FROM g
    """


ORACLES = {
    "ev_quantile_sketch_rollup": """
        SELECT q, n, rank_ok FROM (
            SELECT '0.5' AS q, CAST(count(*) AS BIGINT) AS n,
                   CAST(1 AS BIGINT) AS rank_ok FROM events
            UNION ALL
            SELECT '0.9', CAST(count(*) AS BIGINT), CAST(1 AS BIGINT)
            FROM events
            UNION ALL
            SELECT '0.99', CAST(count(*) AS BIGINT), CAST(1 AS BIGINT)
            FROM events
        )
    """,
    "ev_rfm_segments": f"""
        WITH u AS (
            SELECT user_id,
                   max(epoch_ms(ts)) AS last_ms,
                   count(*) AS n_events,
                   sum(CAST(round(value * 100) AS BIGINT)) AS cents
            FROM events GROUP BY 1
        ), r AS (
            SELECT *,
                   (row_number() OVER (ORDER BY last_ms, user_id) - 1)
                       * {RFM_TIERS} // count(*) OVER () + 1 AS r_score,
                   (row_number() OVER (ORDER BY n_events, user_id) - 1)
                       * {RFM_TIERS} // count(*) OVER () + 1 AS f_score,
                   (row_number() OVER (ORDER BY cents, user_id) - 1)
                       * {RFM_TIERS} // count(*) OVER () + 1 AS m_score
            FROM u
        )
        SELECT user_id, last_ms, n_events,
               round(cents / 100.0, 2) AS monetary,
               CAST(r_score AS BIGINT) AS r_score,
               CAST(f_score AS BIGINT) AS f_score,
               CAST(m_score AS BIGINT) AS m_score,
               r_score || '-' || f_score || '-' || m_score AS segment
        FROM r
    """,
    "ev_session_paths": f"""
        WITH t AS (
            SELECT user_id, event_id, event_type, epoch_ms(ts) AS tms,
                   lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                                           ORDER BY epoch_ms(ts), event_id) AS pe
            FROM events
        ), s AS (
            SELECT user_id, event_id, event_type, tms,
                   CAST(sum(CASE WHEN pe IS NULL OR tms - pe > {PATH_GAP_MS}
                                 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY tms, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM t
        ), p AS (
            SELECT user_id, session_id,
                   array_to_string(
                       (list(event_type ORDER BY tms, event_id))[1:{PATH_MAX_STEPS}],
                       '>') AS path
            FROM s GROUP BY 1, 2
        )
        SELECT path, count(*) AS n_sessions,
               count(DISTINCT user_id) AS n_users
        FROM p GROUP BY 1
    """,
    "ev_interarrival_hist": """
        WITH g AS (
            SELECT event_type,
                   epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY epoch_ms(ts), event_id) AS gap_ms
            FROM events
        )
        SELECT event_type,
               CAST(length(CAST(gap_ms AS VARCHAR)) AS BIGINT) AS magnitude,
               count(*) AS n,
               round(sum(gap_ms) / count(*), 2) AS avg_gap_ms
        FROM g WHERE gap_ms IS NOT NULL GROUP BY 1, 2
    """,
    "ev_hll_partial_merge": """
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               count(DISTINCT user_id) AS exact_users,
               CAST(1 AS BIGINT) AS merge_ok
        FROM events GROUP BY 1
    """,
    "ev_markov_transitions": """
        WITH p AS (
            SELECT event_type AS cur,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY epoch_ms(ts), event_id) AS nxt
            FROM events
        ),
        c AS (
            SELECT cur, nxt, count(*) AS cnt FROM p
            WHERE nxt IS NOT NULL GROUP BY 1, 2
        )
        SELECT cur, nxt, cnt,
               round(cnt * 1.0 / sum(cnt) OVER (PARTITION BY cur), 4) AS prob
        FROM c
    """,
    "ev_ab_test": _ab_sql(),
    "ev_dau_wau": """
        WITH act AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        dau AS (SELECT day, count(*) AS dau FROM act GROUP BY 1),
        contrib AS (
            SELECT user_id,
                   CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
                                               CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
                                               INTERVAL 1 DAY)) AS DATE) AS d
            FROM act
        ),
        wau AS (SELECT d, count(DISTINCT user_id) AS wau FROM contrib GROUP BY 1)
        SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
               round(dau.dau * 1.0 / wau.wau, 4) AS stickiness
        FROM dau JOIN wau ON dau.day = wau.d
    """,
    "ev_pattern_match": """
        WITH s AS (
            SELECT user_id, event_id, event_type, epoch_ms(ts) AS tms,
                   min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END)
                       OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                       AS purchase_ms
            FROM events
        )
        SELECT user_id, event_id AS click_event_id, tms AS click_ms,
               purchase_ms, purchase_ms - tms AS gap_ms
        FROM s
        WHERE event_type = 'click'
          AND purchase_ms IS NOT NULL
          AND purchase_ms <= tms + 1800000
    """,
    "ev_funnel": """
        WITH l1 AS (
            SELECT user_id, event_type, epoch_ms(ts) AS tms,
                   min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END)
                       OVER (PARTITION BY user_id) AS t1
            FROM events
        ), l2 AS (
            SELECT *, min(CASE WHEN event_type = 'click' AND tms > t1 THEN tms END)
                       OVER (PARTITION BY user_id) AS t2
            FROM l1
        ), l3 AS (
            SELECT *, min(CASE WHEN event_type = 'purchase' AND tms > t2 THEN tms END)
                       OVER (PARTITION BY user_id) AS t3
            FROM l2
        ), u AS (
            SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
            FROM l3 GROUP BY user_id
        )
        SELECT count(*) AS n_users,
               count(t1) AS n_view,
               count(t2) AS n_view_click,
               count(t3) AS n_full_funnel,
               CASE WHEN count(t1) > 0
                    THEN round(count(t2) * 1.0 / count(t1), 4) END
                   AS view_to_click,
               CASE WHEN count(t2) > 0
                    THEN round(count(t3) * 1.0 / count(t2), 4) END
                   AS click_to_purchase
        FROM u
    """,
    "ev_retention": """
        WITH act AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), cohort AS (
            SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id
        )
        SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort,
               CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT) AS offset_days,
               count(DISTINCT a.user_id) AS n_users
        FROM act a JOIN cohort c ON a.user_id = c.user_id
        GROUP BY 1, 2
    """,
    "ev_anomaly_zscore": """
        WITH s AS (
            SELECT event_id, user_id, value,
                   count(value) OVER w AS n_prev,
                   avg(value) OVER w AS mu,
                   stddev_samp(value) OVER w AS sd
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                         ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id, user_id, value,
               round((value - mu) / sd, 2) AS zscore
        FROM s
        WHERE n_prev >= 10 AND sd > 1e-9 AND abs((value - mu) / sd) > 3.0
    """,
    "ev_locf_resample": """
        WITH obs AS (
            SELECT user_id, date_trunc('hour', ts) AS hr,
                   arg_max(value, ts) AS v
            FROM events GROUP BY 1, 2
        ), span AS (
            SELECT user_id, min(hr) AS mn, max(hr) AS mx FROM obs GROUP BY 1
        ), grid AS (
            SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
            FROM span
        )
        SELECT g.user_id,
               strftime(g.hr, '%Y-%m-%d %H:%M:%S') AS hour_ts,
               round(last_value(o.v IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.hr
                   ROWS UNBOUNDED PRECEDING), 2) AS value_locf,
               CAST(o.v IS NOT NULL AS BIGINT) AS observed
        FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.hr = o.hr
    """,
}
