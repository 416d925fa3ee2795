"""Physical-plan regression tests: the scale properties the engine
promises (pushdown, no nested-loop joins, no single-partition windows,
broadcast dims, single shared window exchange) asserted on the actual
executed plans so a future refactor can't silently regress them."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_and_projection_reach_the_scan(spark):
    from kafka_flink_harshevents_spark.queries.relational_ext import (
        q6_revenue_change,
    )

    plan = _plan(q6_revenue_change(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    # projection pruning: only the 4 referenced columns are read
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"):
        assert col in read_schema
    assert "l_orderkey" not in read_schema and "l_tax" not in read_schema


def test_exact_rank_never_single_partitions(spark):
    from pyspark.sql import functions as F
    from kafka_flink_harshevents_spark.operators.ranking import (
        with_exact_rank,
        with_exact_rank_grouped,
    )
    from kafka_flink_harshevents_spark.queries._util import load

    e = load(spark, SF_DIR, "events").select("event_type", "event_id", "value")
    # SinglePartition exchanges DO exist for the <= 1024-row bucket
    # metadata aggregates (size-bounded by construction); the promises
    # are: the data-carrying Window partitions on the bucket key, and
    # nothing in the plan sorts globally.
    plan = _plan(with_exact_rank(e.drop("event_type"), "value", "event_id"))
    assert "windowspecdefinition(__bkt" in plan
    assert "], true, " not in plan  # no global Sort anywhere
    gplan = _plan(with_exact_rank_grouped(e, "event_type", "value", "event_id"))
    assert "windowspecdefinition(event_type" in gplan
    assert "], true, " not in gplan


def test_no_nested_loop_joins_in_pair_queries(spark):
    from kafka_flink_harshevents_spark.queries.documents import (
        doc_minhash_lsh_pairs,
        doc_simhash_pairs,
    )
    from kafka_flink_harshevents_spark.queries.events import ev_value_band_join

    for q in (doc_minhash_lsh_pairs, doc_simhash_pairs, ev_value_band_join):
        plan = _plan(q(spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__
        assert "CartesianProduct" not in plan, q.__name__


def test_dimension_joins_broadcast(spark):
    from kafka_flink_harshevents_spark.queries.relational import (
        q5_local_supplier_volume,
    )

    plan = _plan(q5_local_supplier_volume(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # region/nation must never shuffle: no exchange keyed on their join keys
    assert "hashpartitioning(r_regionkey" not in plan
    assert "hashpartitioning(n_nationkey" not in plan


def test_analytic_windows_share_one_exchange(spark):
    from kafka_flink_harshevents_spark.queries.events import ev_user_running_stats

    plan = _plan(ev_user_running_stats(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window [") == 1


def test_funnel_windows_share_one_exchange(spark):
    """The three layered funnel windows all partition on user_id — one
    hash exchange feeds all three Window operators; the only other
    exchange is the final single-row rollup."""
    from kafka_flink_harshevents_spark.queries.analytics import ev_funnel

    plan = _plan(ev_funnel(spark, SF_DIR))
    assert plan.count("Window [") == 3
    assert plan.count("Exchange hashpartitioning") <= 2  # user_id + final agg
    assert "], true, " not in plan  # no global sort


def test_locf_grid_stays_user_partitioned(spark):
    """Gap-fill never single-partitions: the LOCF window is keyed on
    user_id and the grid join is a hash join, not a nested loop."""
    from kafka_flink_harshevents_spark.queries.analytics import ev_locf_resample

    plan = _plan(ev_locf_resample(spark, SF_DIR))
    assert "windowspecdefinition(user_id" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "], true, " not in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime filtering — the 100 TB join-pruning lever when the dim
    side can't broadcast: with a selective dim filter, Catalyst injects a
    bloom filter built from the dim keys into the fact-side scan filter
    (`might_contain(xxhash64(l_orderkey))`), so most fact rows die at the
    scan instead of crossing the join shuffle. Thresholds are lowered to
    make the sf0.001 fact side eligible (prod defaults: 10 GB scan /
    10 MB creation side)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = (
            spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .filter(F.col("o_orderpriority") == "1-URGENT")
        )
        lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        j = (
            lineitem.join(o, lineitem.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = _plan(j)
        assert "might_contain" in plan
        assert "xxhash64(l_orderkey" in plan
        # and the filtered join still returns the right answer
        plain = (
            lineitem.join(o.hint("broadcast"), lineitem.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert j.collect() == plain.collect()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _with_confs(spark, confs):
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    return old


def _restore_confs(spark, old):
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join is the engine's first line of defense for hot keys
    (salted_join is the manual fallback when it can't fire): with one key
    carrying ~90% of rows, the final adaptive plan must mark the
    sort-merge join `skew=true` — the hot partition was split across
    tasks instead of drowning one reducer. Thresholds are lowered so the
    test-scale partitions qualify (prod defaults: 256 MB / factor 5)."""
    from pyspark.sql import functions as F

    old = _with_confs(
        spark,
        {
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("pl"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("rv")
        )
        j = left.join(right, "k").groupBy().agg(F.count(F.lit(1)).alias("n"))
        assert j.collect()[0]["n"] == 200_000  # inner join keeps every row
        assert "skew=true" in _plan(j)
    finally:
        _restore_confs(spark, old)


def test_dynamic_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """Hive-style date-partitioned layout + a selective dim filter →
    Catalyst prunes fact partitions at RUNTIME from the dim join's
    broadcast (SubqueryAdaptiveBroadcast dynamicpruning#…). This is the
    scan-avoidance lever for the 100 TB fact/dim pattern when the filter
    lives on the dim, not the fact. useStats=false + fallbackFilterRatio
    make the tiny test fact eligible; in prod the CBO stats drive it."""
    from pyspark.sql import functions as F

    old = _with_confs(
        spark,
        {
            "spark.sql.optimizer.dynamicPartitionPruning.useStats": "false",
            "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio": "10",
        },
    )
    try:
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        ev.withColumn("day", F.to_date("ts")).write.partitionBy("day").mode(
            "overwrite"
        ).parquet(str(tmp_path / "ev"))
        ev.select(F.to_date("ts").alias("day")).distinct().withColumn(
            "flag",
            F.when(
                F.crc32(F.col("day").cast("string")) % 3 == 0, F.lit("keep")
            ).otherwise(F.lit("drop")),
        ).write.mode("overwrite").parquet(str(tmp_path / "dim"))
        fact = spark.read.parquet(str(tmp_path / "ev"))
        dim = spark.read.parquet(str(tmp_path / "dim")).filter(
            F.col("flag") == "keep"
        )
        j = fact.join(dim, "day").groupBy("day").agg(F.count(F.lit(1)).alias("n"))
        assert "dynamicpruning" in _plan(j).lower()
        # pruned result equals the unpruned filter-after-join answer
        expect = (
            fact.join(dim.hint("broadcast"), "day", "inner")
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        assert sorted(map(tuple, j.collect())) == sorted(map(tuple, expect))
    finally:
        _restore_confs(spark, old)


def test_chunking_is_scan_local(spark):
    """doc_chunk_overlap is project+explode only: no DATA-KEYED exchange
    (hash/range shuffle) anywhere. The only exchange permitted is the
    round-robin parallelism spread `_util.load` inserts for a
    single-file local corpus — a no-op at scale, never a shuffle on a
    key."""
    from kafka_flink_harshevents_spark.queries.documents import doc_chunk_overlap

    plan = _plan(doc_chunk_overlap(spark, SF_DIR))
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Generate explode" in plan


def test_cbo_column_stats_drive_selectivity(spark, tmp_path):
    """Cost-based optimization at 100 TB: after ANALYZE TABLE ... FOR
    COLUMNS, the optimizer carries an exact rowCount and estimates
    filter selectivity from NDV (1-of-5 priorities → ~20% of rows) —
    the inputs join reordering and broadcast decisions need when file
    size alone misleads. CBO is opt-in, so the test flips it on and
    restores."""
    import uuid as _uuid
    from pyspark.sql import functions as F

    old = _with_confs(spark, {"spark.sql.cbo.enabled": "true"})
    t = f"cbo_{_uuid.uuid4().hex[:8]}"
    try:
        spark.read.parquet(f"{SF_DIR}/orders.parquet").write.saveAsTable(t)
        spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR COLUMNS o_orderpriority")

        def stats(df):
            return df._jdf.queryExecution().optimizedPlan().stats()

        full = stats(spark.table(t))
        assert full.rowCount().isDefined()
        n = int(str(full.rowCount().get()).replace("E+", "e").replace(",", "")
                if "E" in str(full.rowCount().get()) else full.rowCount().get())
        filt = stats(
            spark.table(t).filter(F.col("o_orderpriority") == "1-URGENT")
        )
        assert filt.rowCount().isDefined()
        est = int(str(filt.rowCount().get()))
        # NDV(o_orderpriority) = 5 → the estimate must be far below the
        # full count (allow slack for histogram rounding)
        assert 0 < est < n * 0.5
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _restore_confs(spark, old)


def _empty_partition_windows(node) -> int:
    hits = 0
    if node.getClass().getSimpleName() == "Window":
        if node.partitionSpec().isEmpty():
            hits += 1
    it = node.children().iterator()
    while it.hasNext():
        hits += _empty_partition_windows(it.next())
    return hits


def _plan_invariant_offenders(spark, names) -> dict[str, list[str]]:
    """The two catalog-wide plan invariants, checked on each named
    catalog entry; returns the offending entry names per invariant.

    - No CartesianProduct anywhere in the executed plan: every
      pair-finding operator must key its join (band hash, signature,
      block id, prefix rank, bucket). 1-row scalar guards use broadcast
      cross joins, which is fine; an actual CartesianProduct at 100 TB
      is always a bug.
    - No Window with an EMPTY partition spec: Spark moves all rows into
      ONE partition for such windows (it warns exactly this), the
      classic 100 TB plan-killer. Global ranks must go through the
      bucketed exact-rank machine (`operators/ranking.py`); per-group
      windows must key on the group. This walks the optimized LOGICAL
      plan, so AQE wrapping can't hide a hit."""
    from kafka_flink_harshevents_spark.queries import all_queries

    queries = all_queries()
    offenders: dict[str, list[str]] = {"cartesian": [], "unpartitioned_window": []}
    for name in names:
        qe = queries[name](spark, SF_DIR)._jdf.queryExecution()
        if "CartesianProduct" in qe.executedPlan().toString():
            offenders["cartesian"].append(name)
        if _empty_partition_windows(qe.optimizedPlan()):
            offenders["unpartitioned_window"].append(name)
    return offenders


def test_plan_invariants_on_catalog_sample(spark):
    """Default-tier guard for the catalog-wide invariants: a fixed
    sample of 20 entries, every Nth by sorted name, so a run is
    repeatable; the slow sweeps below cover every entry."""
    from kafka_flink_harshevents_spark.queries import all_queries

    names = sorted(all_queries())
    sample = names[:: max(1, len(names) // 20)][:20]
    offenders = _plan_invariant_offenders(spark, sample)
    assert offenders == {"cartesian": [], "unpartitioned_window": []}, offenders


@pytest.mark.slow
def test_catalog_wide_no_cartesian_products(spark):
    """Sweeps EVERY catalog entry: no CartesianProduct anywhere."""
    from kafka_flink_harshevents_spark.queries import all_queries

    offenders = _plan_invariant_offenders(spark, sorted(all_queries()))["cartesian"]
    assert not offenders, f"cartesian products in: {offenders}"


@pytest.mark.slow
def test_catalog_wide_no_unpartitioned_windows(spark):
    """Sweeps EVERY catalog entry: no Window with an empty partition
    spec."""
    from kafka_flink_harshevents_spark.queries import all_queries

    names = sorted(all_queries())
    offenders = _plan_invariant_offenders(spark, names)["unpartitioned_window"]
    assert not offenders, f"unpartitioned Window in: {offenders}"


def test_merge_upsert_stages_through_one_exchange(spark, tmp_path):
    """merge_upsert's whole pipeline — latest-wins window, identity
    inheritance, and the bucket-partitioned stage write — rides ONE
    hash exchange (round-12 collapse): the windows partition by
    (_bucket, keys) — identical groups, since _bucket is a pure
    function of the keys — so hashpartitioning(_bucket) satisfies
    them, and _stage(pre_bucketed=True) skips its repartition. The
    staged plan is captured from the real write via a writer hook."""
    import pyspark.sql.readwriter as rw

    from kafka_flink_harshevents_spark.sources.txlog import TxTable

    captured: list[str] = []
    orig = rw.DataFrameWriter.parquet

    def hook(self, path, **kw):
        captured.append(
            self._df._jdf.queryExecution().executedPlan().toString()
        )
        return orig(self, path, **kw)

    rw.DataFrameWriter.parquet = hook
    try:
        t = TxTable.create(
            spark, str(tmp_path / "t"), key_cols=["k"],
            order_col="ver", n_buckets=4,
        )
        t.append(spark.createDataFrame(
            [(k, k * 10, 1) for k in range(200)],
            "k long, v long, ver long",
        ))
        captured.clear()
        t.merge_upsert(spark.createDataFrame(
            [(k, k * 100, 2) for k in range(100)],
            "k long, v long, ver long",
        ))
    finally:
        rw.DataFrameWriter.parquet = orig
    assert len(captured) == 1
    plan = captured[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # both windows present and keyed by (_bucket, keys)
    assert plan.count("Window [") == 1  # no identity cols -> one window
    # survivors: latest ver per key
    rows = {r["k"]: (r["v"], r["ver"]) for r in t.read().collect()}
    assert rows[0] == (0, 2) and rows[150] == (1500, 1)
