"""Catalog-facing correctness entries for the transactional table
layer (``sources/txlog.py``) — the ACID substrate under the K3/K4
Mongo-sink paths (reference kafkaConsumer.js:292-318).

The txlog layer is exercised by 35+ unit tests, but those live outside
the driver's per-round correctness sweep. These entries put MERGE /
DELETE / CDF / time-travel / metadata-only aggregation semantics behind
DuckDB-checkable oracles: each builds a small transactional table from
``orders`` in a throwaway directory, mutates it through the real commit
path, and emits a result the oracle can state DIRECTLY from the source
table — so any drift in merge, delete, change-feed, or stats replay
semantics breaks a per-round hash.

Input volume is intentionally CONSTANT across scale factors
(``o_orderkey <= 2000``): the entries verify transaction semantics, not
scan throughput — the scan-side scale story is covered by the rest of
the catalog, and file-count/commit-count here mirror real per-commit
costs, which are independent of table size by design (cost ∝ touched
buckets, never table size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flink_harshevents_spark.queries._util import load, temp_dir
from kafka_flink_harshevents_spark.sources.txlog import TxTable, _replay_log

_KEY_CAP = 2000  # constant row universe at every SF (orders keys are dense)


def _base_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → (k, st, amount_c, ver): integer cents (the catalog's
    cross-engine money convention), version 1."""
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= _KEY_CAP)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("st"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("amount_c"),
            F.lit(1).cast("long").alias("ver"),
        )
    )


def _build_mutated_table(
    spark: SparkSession,
    sf_dir: str,
    delete_mode: str = "copy_on_write",
    cdf: bool = False,
) -> tuple[TxTable, int]:
    """append(⅔ of keys) → merge_upsert(%3 inserts + %5 updates, +100
    cents, ver 2) → delete_where(k %7 = 0). Returns (table, version of
    the initial append) — three real commits through the ACID path."""
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txq-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,  # entry measures commit semantics, not file fan-out
        cdf=cdf,
    )
    v0 = t.append(base.filter(F.col("k") % 3 != 0))
    t.merge_upsert(
        base.filter((F.col("k") % 3 == 0) | (F.col("k") % 5 == 0)).select(
            "k",
            "st",
            (F.col("amount_c") + 100).alias("amount_c"),
            F.lit(2).cast("long").alias("ver"),
        )
    )
    t.delete_where("k % 7 = 0", mode=delete_mode)
    return t, v0


def q_txlog_cdf_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruct the table's FINAL state purely from the initial
    snapshot plus the change-data-feed of every later commit — the
    downstream-materialized-view contract (a consumer that applies CDF
    deltas must converge to the table). The feed is read through the
    BATCH change-feed DataSource in ONE plan over the whole commit
    range (``readchangefeed`` + ``startingversion`` — the IVM-consumer
    shape; plan size stays O(1) however long the history, vs O(commits)
    for per-version ``table_changes`` unions). The oracle states the
    final state directly from ``orders``, so merge latest-wins, delete
    row-accounting, CDF materialization at commit time, and the
    DataSource feed-serving path are all on the hash."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TxLogStreamSource)
    t, v0 = _build_mutated_table(spark, sf_dir, cdf=True)
    # CDF replay: initial snapshot at seq 0, each commit's changes at
    # its own commit version; per key keep the newest record
    # (postimage/insert outranks preimage/delete within one commit),
    # then keep the key only if that record says the row exists.
    state = t.read(version=v0).select(
        "k", "st", "amount_c", "ver",
        F.lit(0).cast("long").alias("_seq"), F.lit(1).alias("_alive"),
    )
    changes = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .option("readchangefeed", "true")
        .option("startingversion", str(v0 + 1))
        .load()
        .select(
            "k", "st", "amount_c", "ver",
            F.col("_commit_version").alias("_seq"),
            F.col("_change_type")
            .isin("insert", "update_postimage")
            .cast("int")
            .alias("_alive"),
        )
    )
    log = state.unionByName(changes)
    from pyspark.sql.window import Window

    w = Window.partitionBy("k").orderBy(
        F.col("_seq").desc(), F.col("_alive").desc()
    )
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("_alive") == 1))
        .select("k", "st", "amount_c", "ver")
    )


def q_txlog_metadata_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-ONLY aggregation (count/min/max answered from commit-log
    file stats, zero data-file reads) across a rewrite commit AND time
    travel: one row comparing the post-delete snapshot with the initial
    append's snapshot. The oracle recomputes both from ``orders``
    directly, so stats recording on every write path, DV-free replay,
    and time-travel replay are all on the hash."""
    t, v0 = _build_mutated_table(spark, sf_dir)
    now = t.metadata_aggregate(("k", "amount_c"))
    before = t.metadata_aggregate(("k", "amount_c"), version=v0)
    row = {
        "rows_latest": now["rows"],
        "min_k_latest": now["cols"]["k"]["min"],
        "max_k_latest": now["cols"]["k"]["max"],
        "max_amount_latest": now["cols"]["amount_c"]["max"],
        "rows_v0": before["rows"],
        "min_k_v0": before["cols"]["k"]["min"],
        "max_k_v0": before["cols"]["k"]["max"],
        "max_amount_v0": before["cols"]["amount_c"]["max"],
    }
    schema = ", ".join(f"{c} long" for c in row)
    return spark.createDataFrame([tuple(row.values())], schema)


def q_txlog_zorder_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER correctness gate: build a table with two query
    dimensions, cluster it along their Morton curve, and emit the
    driver-hashable contract — the pruned range read returns EXACTLY
    the rows SQL says (count oracled from ``orders`` directly), the
    multiset survives the rewrite, and the clustered layout actually
    skips files on a non-leading dimension (file counts themselves are
    writer-specific, so they gate as booleans — the
    `emb_knn_pq_recall` convention)."""
    base = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= _KEY_CAP)
        .select(
            F.col("o_orderkey").alias("k"),
            (F.round(F.col("o_totalprice") * 100).cast("long") % 1000)
            .alias("x"),
            (F.col("o_custkey") % 1000).alias("y"),
        )
    )
    t = TxTable.create(
        spark,
        temp_dir(prefix="txz-"),
        key_cols=("k",),
        order_col="k",
        n_buckets=2,
    )
    t.append(base)
    n_before = t.read().count()
    t.optimize_zorder(("x", "y"), bits=6, max_rows_per_file=128)
    pruned = t.read(prune={"y": (100, 200)})
    rep = t.prune_report({"y": (100, 200)})
    row = (
        int(pruned.count()),
        int(t.read().count() == n_before),
        int(rep["files_skipped"] > 0),
        int(rep["files_total"] > rep["files_read"]),
    )
    return spark.createDataFrame(
        [row],
        "n_rows_in_range long, multiset_preserved long, "
        "skips_files long, reads_subset long",
    )


def q_txlog_datasource_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered ``format("txlog")`` BATCH relation on the hash:
    run the same three-commit mutation program — with the delete as a
    MERGE-ON-READ deletion vector, so the vectors are live at read
    time — then read the final snapshot through ``spark.read`` (Python
    DataSource partition planning, executor-side pyarrow reads,
    positional DV masking) instead of :meth:`TxTable.read`. The oracle
    states the final state directly from ``orders``, so the
    DataSource's replay/DV-masking path is driver-checked per round
    exactly like the library path."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
    )

    # The reader implements pushFilters(), which Spark refuses to plan
    # unless this conf is on — and the conf is SESSION state, so it must
    # be set HERE, not in session.py: the driver (and any other caller)
    # runs catalog entries on its own vanilla SparkSession (the
    # CORRECTNESS_r05 crash). Runtime-settable, verified.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TxLogStreamSource)
    t, _ = _build_mutated_table(spark, sf_dir, delete_mode="merge_on_read")
    return (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .load()
        .select("k", "st", "amount_c", "ver")
    )


def q_txlog_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``df.write.format("txlog")`` path on the hash: stage the
    base frame through the DataSource writer (Python-side xxhash64
    bucket assignment, per-task staging, one atomic commit), then run
    a library MERGE over it — the merge trusts the writer's bucket
    labels to FIND the rows it must rewrite, so a single mislabeled
    bucket leaves a stale duplicate and breaks the hash. The oracle
    states the merged state directly from ``orders``."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
    )

    spark.dataSource.register(TxLogStreamSource)
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txw-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=4,
    )
    (
        base.write.format("txlog")
        .option("tabledir", t.table_dir)
        .mode("append")
        .save()
    )
    t.merge_upsert(
        base.filter(F.col("k") % 5 == 0).select(
            "k",
            "st",
            (F.col("amount_c") + 100).alias("amount_c"),
            F.lit(2).cast("long").alias("ver"),
        )
    )
    return t.read().select("k", "st", "amount_c", "ver")


def q_txlog_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``apply_cdc`` on the hash: append the base, then apply ONE mixed
    CDC batch — updates (%5 keys, +100 cents, ver 2), deletes (%7
    keys, ver 2), late deletes that must be IGNORED (%11 keys at ver
    0, older than the rows they target), and inserts (keys shifted
    above the cap) — and read the final state. The oracle states the
    same resolution directly from ``orders``, so per-key winner
    ordering, delete retraction, and late-change suppression are all
    driver-checked each round. Deletes carry ver 3, so on the %35
    overlap (update ver 2 + delete ver 3) the delete wins per the
    ordering contract — the oracle's `%% 7 <> 0` states the same."""
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txc-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
    )
    t.append(base)
    updates = base.filter(F.col("k") % 5 == 0).select(
        "k", "st",
        (F.col("amount_c") + 100).alias("amount_c"),
        F.lit(2).cast("long").alias("ver"),
        F.lit("U").alias("op"),
    )
    deletes = base.filter(F.col("k") % 7 == 0).select(
        "k", "st", "amount_c",
        F.lit(3).cast("long").alias("ver"),
        F.lit("D").alias("op"),
    )
    late_deletes = base.filter(F.col("k") % 11 == 0).select(
        "k", "st", "amount_c",
        F.lit(0).cast("long").alias("ver"),  # older than every row
        F.lit("D").alias("op"),
    )
    inserts = base.filter(F.col("k") % 13 == 0).select(
        (F.col("k") + 1_000_000).alias("k"),
        "st", "amount_c",
        F.lit(2).cast("long").alias("ver"),
        F.lit("I").alias("op"),
    )
    t.apply_cdc(
        updates.unionByName(deletes)
        .unionByName(late_deletes)
        .unionByName(inserts)
    )
    return t.read().select("k", "st", "amount_c", "ver")


def q_txlog_clone_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE independence on the hash, both directions: clone
    the appended base table, DELETE on the source, MERGE on the clone,
    and emit both final states tagged. A delete leaking into the clone,
    a merge leaking into the source, or a broken absolute-path file
    reference in the clone's initial commit all break the hash. The
    source table declares a GENERATED column the clone must inherit
    (clone_to propagates generated_cols): the clone-side merge frame
    LACKS the column, so the clone computing it per its own metadata is
    also on the hash."""
    base = _base_frame(spark, sf_dir)
    src = TxTable.create(
        spark,
        temp_dir(prefix="txsrc-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
        generated_cols={"amount_band": "CAST(amount_c % 97 AS BIGINT)"},
    )
    src.append(base)  # frame lacks amount_band -> computed at write
    clone = src.clone_to(temp_dir(prefix="txcl-"))
    src.delete_where("k % 7 = 0")
    clone.merge_upsert(
        base.filter(F.col("k") % 5 == 0).select(
            "k",
            "st",
            (F.col("amount_c") + 100).alias("amount_c"),
            F.lit(2).cast("long").alias("ver"),
        )
    )
    cols = ("k", "st", "amount_c", "amount_band", "ver")
    return (
        src.read().select(*cols).withColumn("side", F.lit("src"))
        .unionByName(
            clone.read().select(*cols).withColumn("side", F.lit("clone"))
        )
    )


def q_txlog_generated_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS on the hash: a table declaring a generated
    column is appended AND merged with frames that LACK it — both write
    paths must compute it from the declared expression — and the final
    state (including the generated values after latest-wins merge
    resolution) is stated by the oracle directly from ``orders``. A
    write path that forgets to compute, computes against the wrong
    expression, or loses the column through the merge rewrite breaks
    the hash."""
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txg-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
        generated_cols={"amount_band": "CAST(amount_c % 97 AS BIGINT)"},
    )
    t.append(base.filter(F.col("k") % 3 != 0))
    t.merge_upsert(
        base.filter((F.col("k") % 3 == 0) | (F.col("k") % 5 == 0)).select(
            "k",
            "st",
            (F.col("amount_c") + 100).alias("amount_c"),
            F.lit(2).cast("long").alias("ver"),
        )
    )
    return t.read().select("k", "st", "amount_c", "amount_band", "ver")


def q_txlog_restore_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TO VERSION on the hash: append the full base, DELETE a
    slice, MERGE another, then roll back to the initial append — the
    final state must equal the untouched base exactly (the restore
    commit's add/remove/dv bookkeeping is generic-rewrite replay, so
    any drift in resurrected-file accounting breaks the hash). History
    stays append-only: the restore is a NEW commit on top of the bad
    period, which time travel still reaches."""
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txr-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
    )
    v0 = t.append(base)
    t.delete_where("k % 7 = 0")
    t.merge_upsert(
        base.filter(F.col("k") % 5 == 0).select(
            "k",
            "st",
            (F.col("amount_c") + 100).alias("amount_c"),
            F.lit(2).cast("long").alias("ver"),
        )
    )
    t.restore(v0)
    return t.read().select("k", "st", "amount_c", "ver")


def q_txlog_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE DROP COLUMN on the hash: append the base, drop a
    non-key column (metadata-only commit — old files still physically
    carry it and every reader must project it out), then append MORE
    rows under the narrowed schema — the table must stay writable and
    the final state must union pre-drop rows (column projected away)
    with post-drop rows. The oracle states both halves from ``orders``.
    """
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txd-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
    )
    t.append(base)
    t.drop_columns(("st",))
    t.append(
        base.filter(F.col("k") % 13 == 0).select(
            (F.col("k") + 1_000_000).alias("k"),
            "amount_c",
            F.lit(2).cast("long").alias("ver"),
        )
    )
    return t.read().select("k", "amount_c", "ver")


def q_txlog_compact_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-aware OPTIMIZE gate: fragment the base across 8 small
    appends per bucket, put a merge-on-read deletion vector on one
    slice, then ``compact(target_bytes=...)`` — the policy must
    bin-pack small files toward the target (fewer files whose MEAN
    size strictly grows — the robust layout property: first-fit-
    decreasing may legitimately leave a singleton leftover bin that
    compact drops as no-gain, so a ``min``-based gate could
    spuriously tie), materialize the vector, and preserve the row
    multiset exactly. Rows/sum are oracled directly from ``orders``;
    the layout properties gate as booleans (file sizes are
    writer-specific — the `emb_knn_pq_recall` convention)."""
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txb-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
    )
    # eight small appends → fragmentation. The appends are blind
    # inserts of DISJOINT slices with no ordering contract, so they
    # overlap as concurrent jobs (guide §2.6); optimistic concurrency
    # serializes the version claims (staged files are position-
    # independent — a lost race retries the commit, not the write),
    # and the final multiset/file layout is order-independent.
    # max_retries covers the worst case of 7 lost races.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        list(
            pool.map(
                lambda m: t.append(
                    base.filter(F.col("k") % 8 == m), max_retries=16
                ),
                range(8),
            )
        )
    t.delete_where("k % 7 = 0", mode="merge_on_read")
    _, live_before, _ = t._snapshot()
    sizes_before = [int(e["bytes"]) for e in live_before]
    # target scales with the observed fragment size, so the gate is
    # SF-independent: each bin packs ~3 fragments
    target = 3 * max(sizes_before) + 1
    t.compact(target_bytes=target)
    _, live_after, _ = t._snapshot()
    dvs = _replay_log(t.table_dir).dvs
    sizes_after = [int(e["bytes"]) for e in live_after]
    final = t.read()
    agg = final.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("amount_c").cast("long").alias("sum_amount_c"),
    ).first()
    row = (
        int(agg["n_rows"]),
        int(agg["sum_amount_c"]),
        int(len(live_after) < len(live_before)),
        int(
            sum(sizes_after) * len(sizes_before)
            > sum(sizes_before) * len(sizes_after)
        ),
        int(not dvs),
    )
    return spark.createDataFrame(
        [row],
        "n_rows long, sum_amount_c long, files_reduced long, "
        "mean_file_grew long, dv_materialized long",
    )


def q_txlog_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE RENAME COLUMN (column mapping) on the hash: append
    the base, rename a data column (metadata-only — old files keep the
    physical name), append MORE rows under the NEW logical name, then
    MERGE through the renamed schema. The final read must union
    pre-rename files (resolved through the mapping) with post-rename
    files and the merge's rewrite — the oracle states the whole state
    from ``orders`` under the new name, so mapping resolution on every
    read/write path is on the hash."""
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txn-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
    )
    t.append(base)
    t.rename_column("amount_c", "amount_cents")
    t.append(
        base.filter(F.col("k") % 13 == 0).select(
            (F.col("k") + 1_000_000).alias("k"),
            "st",
            F.col("amount_c").alias("amount_cents"),
            F.lit(2).cast("long").alias("ver"),
        )
    )
    t.merge_upsert(
        base.filter(F.col("k") % 5 == 0).select(
            "k",
            "st",
            (F.col("amount_c") + 100).alias("amount_cents"),
            F.lit(3).cast("long").alias("ver"),
        )
    )
    return t.read().select("k", "st", "amount_cents", "ver")


def q_txlog_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE WIDENING on the hash: append the base with an INT amount
    column, then append rows whose amounts need LONG (merge_schema
    widens the recorded schema; the int files stay narrow on disk and
    upcast at scan), then MERGE updates through the widened schema.
    The final state — int-era rows, long-era rows, and merged rewrites
    all read back as BIGINT — is stated by the oracle from ``orders``,
    so the widening union, the mixed-width scan upcast, and the merge
    rewrite are all driver-checked."""
    base_int = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= _KEY_CAP)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("st"),
            F.round(F.col("o_totalprice") * 100)
            .cast("int")
            .alias("amount_c"),
            F.lit(1).cast("long").alias("ver"),
        )
    )
    t = TxTable.create(
        spark,
        temp_dir(prefix="txt-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
    )
    t.append(base_int)
    t.append(
        base_int.filter(F.col("k") % 13 == 0).select(
            (F.col("k") + 1_000_000).alias("k"),
            "st",
            (F.col("amount_c").cast("long") + 100_000_000_000)
            .alias("amount_c"),
            F.lit(2).cast("long").alias("ver"),
        ),
        merge_schema=True,
    )
    t.merge_upsert(
        base_int.filter(F.col("k") % 5 == 0).select(
            "k",
            "st",
            (F.col("amount_c").cast("long") + 100).alias("amount_c"),
            F.lit(3).cast("long").alias("ver"),
        )
    )
    return t.read().select("k", "st", "amount_c", "ver")


def q_txlog_where_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE SKIPPING through the SQL read path: a single-table
    ``txsql`` SELECT whose WHERE carries literal conjuncts (an IN
    list on the bloom-indexed key + a range) must (a) return exactly
    the predicate's rows and (b) provably open fewer files than the
    snapshot holds — the resolver maps the conjuncts onto
    ``read(isin=/prune=)``, so the native scan is pruned by the
    commit log's min/max + blooms (``txsql.py::
    _single_ref_skip_filters``). Two interleaved-key appends make
    min/max overlap everywhere, so observed skipping is the bloom's.
    The skip proof rides as a constant column computed from
    ``prune_report`` with the SAME kwargs; the oracle states the rows
    and proof from ``orders``."""
    from kafka_flink_harshevents_spark.sources.txsql import txsql

    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txws-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=4,
        bloom_cols=("k",),
    )
    t.append(base.filter(F.col("k") % 2 == 0))
    t.append(base.filter(F.col("k") % 2 == 1))
    df = txsql(
        spark,
        "SELECT k, st, amount_c, ver FROM t "
        "WHERE k IN (3, 700, 1042) AND amount_c > 0",
        tables={"t": t},
    )
    rep = t.prune_report(
        {"amount_c": (0, None)}, isin={"k": [3, 700, 1042]}
    )
    skipped = int(rep["files_read"] < rep["files_total"])
    return df.withColumn(
        "skip_proved", F.lit(skipped).cast("long")
    )


def q_txlog_explain_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``EXPLAIN SKIPPING`` observability gate: append the base in a
    LOW wave (k ≤ 1000) then a HIGH wave (k > 1000), so every file's
    key range lies wholly on one side — the skip decision for a
    range/BETWEEN probe is then EXACT by construction at any SF
    (4 buckets × 2 waves = 8 files; a low-range SELECT must open
    exactly the 4 low files, a high-range DELETE exactly the 4 high
    files, and an unprunable ``k % 2 = 0`` all 8 with empty filters).
    ``rows_skipped`` is the commit log's row count of the skipped
    wave, which the oracle restates straight from ``orders`` — so the
    gate pins the report's counts AND the extracted-filter strings
    (incl. the BETWEEN → range fold) without executing a statement."""
    from kafka_flink_harshevents_spark.sources.txsql import txsql

    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txes-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=4,
    )
    t.append(base.filter(F.col("k") <= 1000))
    t.append(base.filter(F.col("k") > 1000))

    def ex(label: str, stmt: str) -> DataFrame:
        return txsql(
            spark, f"EXPLAIN SKIPPING {stmt}", tables={"t": t}
        ).select(
            F.lit(label).alias("stmt"),
            "files_total", "files_read", "rows_skipped", "filters",
        )

    return (
        ex("range_low", "SELECT k, amount_c FROM t WHERE k <= 1000")
        .unionAll(ex(
            "unprunable", "SELECT k FROM t WHERE k % 2 = 0"
        ))
        .unionAll(ex(
            "dml_between",
            "DELETE FROM t WHERE k BETWEEN 1001 AND 2000",
        ))
    )


def q_txlog_merge_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE write-amplification gate: low/high append waves (8 files,
    4 buckets × 2) then a 3-key matched-only merge inside the LOW
    range — the file-level find-phase (``txlog.py::_merge_hit_files``)
    must carry all 4 high files forward untouched (their key [min,max]
    provably misses every source key) and rewrite at most 3 low files
    (the source keys' buckets). The proof rides as a constant column;
    the data half (updated keys +1000 cents at ver 2, everything else
    byte-identical) is restated from ``orders`` by the oracle."""
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txmp-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=4,
    )
    t.append(base.filter(F.col("k") <= 1000))
    t.append(base.filter(F.col("k") > 1000))
    _, before, _ = t._snapshot()
    high = {e["path"] for e in before if e["stats"]["cols"]["k"][0] > 1000}
    t.merge_into(
        base.filter(F.col("k").isin(5, 105, 205)).select(
            "k", "st",
            (F.col("amount_c") + 1000).alias("amount_c"),
            F.lit(2).cast("long").alias("ver"),
        ),
        when_matched="update",
        when_not_matched=None,
    )
    _, after, _ = t._snapshot()
    carried = {e["path"] for e in before} & {e["path"] for e in after}
    proved = int(high <= carried and len(before) - len(carried) <= 3)
    return t.read().select(
        "k", "st", "amount_c", "ver",
        F.lit(proved).cast("long").alias("prune_proved"),
    )


def q_txlog_auto_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-compaction gate, driven entirely through SQL: SET
    TBLPROPERTIES (auto_compact_files = 4) then four quarter-appends —
    each append adds one small file per bucket, so after the fourth
    every bucket holds 4 fragments and the WRITE PATH itself must run
    the size-aware compaction (`txlog.py::_after_data_commit`):
    history gains a compact op and the live layout collapses back to
    one file per bucket. The proof (compact fired AND ≤4 live files)
    rides as a constant column; the data half — all rows intact,
    byte-identical — is restated from ``orders`` by the oracle."""
    from kafka_flink_harshevents_spark.sources.txsql import txsql

    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txac-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=4,
    )
    txsql(
        spark,
        "ALTER TABLE t SET TBLPROPERTIES (auto_compact_files = 4)",
        tables={"t": t},
    )
    for r in range(4):
        t.append(base.filter(F.col("k") % 4 == r))
    _, live, _ = t._snapshot()
    ops = [row["op"] for row in t.history().collect()]
    proved = int("compact" in ops and len(live) <= 4)
    return t.read().select(
        "k", "st", "amount_c", "ver",
        F.lit(proved).cast("long").alias("compact_proved"),
    )


def q_txlog_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OVERWRITE with a replaceWhere predicate on the hash:
    append the base,
    then atomically re-derive the ``k % 3 = 0`` slice (new amounts,
    version 2) by predicate — rows outside the slice must carry
    forward byte-identically (including same-file neighbors rewritten
    as survivors), and the replaced slice must hold EXACTLY the new
    rows. Driven through the SQL form (``INSERT INTO t REPLACE WHERE
    <pred> <source>`` — Delta's documented spelling), so the gate
    checks the parser AND the rewrite. The oracle states both halves
    from ``orders``, so slice ownership, survivor rewriting, and the
    predicate guard are all driver-checked."""
    from kafka_flink_harshevents_spark.sources.txsql import txsql

    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txrw-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
    )
    t.append(base)
    txsql(
        spark,
        "INSERT INTO t REPLACE WHERE k % 3 = 0 newslice",
        tables={"t": t},
        sources={
            "newslice": base.filter(F.col("k") % 3 == 0).select(
                "k",
                "st",
                (F.col("amount_c") + 500).alias("amount_c"),
                F.lit(2).cast("long").alias("ver"),
            )
        },
    )
    return t.read().select("k", "st", "amount_c", "ver")


def q_txlog_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional MERGE INTO on the hash: append the base, then merge
    a source of the ``k % 5 = 0`` keys (+100 cents, version 2) UNION
    shifted ``k % 13 = 0`` insert keys, with ``matched_condition =
    "t.st = 'F'"`` — ONLY matched rows whose target status is F
    update; every other matched row must keep its target value
    byte-identically, and the unmatched source keys insert. The oracle
    states the clause resolution directly from ``orders``, so the
    conditional-clause semantics (condition-gated update, keep-on-
    false, insert) are driver-checked."""
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txm-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
    )
    t.append(base)
    src = (
        base.filter(F.col("k") % 5 == 0).select(
            "k",
            "st",
            (F.col("amount_c") + 100).alias("amount_c"),
            F.lit(2).cast("long").alias("ver"),
        )
        .unionByName(
            base.filter(F.col("k") % 13 == 0).select(
                (F.col("k") + 1_000_000).alias("k"),
                "st",
                "amount_c",
                F.lit(2).cast("long").alias("ver"),
            )
        )
    )
    t.merge_into(
        src,
        when_matched="update",
        matched_condition="t.st = 'F'",
        when_not_matched="insert",
    )
    return t.read().select("k", "st", "amount_c", "ver")


def q_txlog_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO with Delta's FULL clause surface in one commit: an
    ORDERED two-clause WHEN MATCHED list (conditional DELETE takes
    precedence over conditional UPDATE — first-true-wins per row, rows
    neither clause claims keep their target value), a conditioned WHEN
    NOT MATCHED insert, and WHEN NOT MATCHED BY SOURCE UPDATE (the
    sync-two-tables idiom — every target row outside the source's keys
    is examined, full-scan semantics). The oracle states the entire
    clause resolution directly from ``orders``, so clause precedence,
    keep-on-no-winner, condition-gated insert, and the by-source
    full-scan are all driver-checked."""
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txmcl-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
    )
    t.append(base)
    src = (
        base.filter(F.col("k") % 4 == 0).select(
            "k",
            "st",
            (F.col("amount_c") + 77).alias("amount_c"),
            F.lit(2).cast("long").alias("ver"),
        )
        .unionByName(
            base.filter(F.col("k") % 11 == 0).select(
                (F.col("k") + 1_000_000).alias("k"),
                "st",
                "amount_c",
                F.lit(2).cast("long").alias("ver"),
            )
        )
    )
    t.merge_into(
        src,
        when_matched=[
            {"action": "delete", "condition": "t.st = 'F' AND s.k % 8 = 0"},
            {"action": "update",
             "set": {"amount_c": "s.amount_c", "ver": "s.ver"},
             "condition": "t.st = 'O'"},
        ],
        when_not_matched="insert",
        not_matched_condition="s.k % 2 = 1",
        when_not_matched_by_source="update",
        by_source_set={"ver": "t.ver + 10"},
        by_source_condition="t.st = 'P'",
    )
    return t.read().select("k", "st", "amount_c", "ver")


def q_txlog_merge_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with SCHEMA EVOLUTION plus Delta's multi-insert clause
    list: the first merge adds a new ``flag`` column under
    ``merge_schema=True`` (wholesale updates carry it, untouched rows
    NULL-fill — surfaced as '-' so the hash is NULL-free), the second
    merge routes unmatched rows through an ORDERED insert-clause list
    (even-cent rows insert wholesale, the catch-all clause constructs
    the row from SQL values). The oracle states every branch from
    ``orders``, so evolution NULL-fill, SET-*-by-name, insert-clause
    precedence, and values-construction are all driver-checked."""
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txme-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
    )
    t.append(base)
    src1 = (
        base.filter(F.col("k") % 6 == 0).select(
            "k",
            "st",
            (F.col("amount_c") + 9).alias("amount_c"),
            F.lit(2).cast("long").alias("ver"),
            F.lit("e").alias("flag"),
        )
        .unionByName(
            base.filter(F.col("k") % 17 == 0).select(
                (F.col("k") + 1_000_000).alias("k"),
                "st",
                "amount_c",
                F.lit(2).cast("long").alias("ver"),
                F.lit("i").alias("flag"),
            )
        )
    )
    t.merge_into(src1, merge_schema=True)
    src2 = base.filter(F.col("k") % 19 == 0).select(
        (F.col("k") + 2_000_000).alias("k"),
        "st",
        "amount_c",
        F.lit(3).cast("long").alias("ver"),
        F.lit("z").alias("flag"),
    )
    t.merge_into(
        src2,
        when_matched=None,
        when_not_matched=[
            {"values": None, "condition": "s.amount_c % 2 = 0"},
            {"values": {"amount_c": "s.amount_c * 2", "st": "'x'",
                        "ver": "s.ver + 10"}},
        ],
    )
    return t.read().select(
        "k", "st", "amount_c", "ver",
        F.coalesce("flag", F.lit("-")).alias("flag"),
    )


def q_txlog_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS IDENTITY on the hash: append half the keys
    (ids allocated in key order from the watermark), merge_upsert a
    mix of UPDATES (which must INHERIT the key's id) and new keys
    (fresh ids continuing the watermark), then a conditional
    MERGE INTO whose updates must keep the target id and whose inserts
    allocate. The oracle reconstructs every id with ROW_NUMBERs over
    ``orders`` — possible because the gate table uses ONE bucket, so
    per-commit allocation order is exactly (key, order); multi-bucket
    allocation (ids striped by the bucket hash, unique but not
    SQL-reproducible) is covered by the unit suite's uniqueness and
    concurrency tests."""
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txid-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=1,
        identity_cols={"seq": {"start": 1, "step": 1}},
    )
    t.append(base.filter(F.col("k") % 2 == 0))
    t.merge_upsert(
        base.filter(F.col("k") % 6 == 0)
        .select(
            "k",
            "st",
            (F.col("amount_c") + 50).alias("amount_c"),
            F.lit(2).cast("long").alias("ver"),
        )
        .unionByName(
            base.filter(
                (F.col("k") % 2 == 1) & (F.col("k") % 3 == 0)
            ).select(
                "k", "st", "amount_c", F.lit(1).cast("long").alias("ver")
            )
        )
    )
    t.merge_into(
        base.filter(F.col("k") % 10 == 0)
        .select(
            "k",
            "st",
            (F.col("amount_c") + 7).alias("amount_c"),
            F.lit(3).cast("long").alias("ver"),
        )
        .unionByName(
            base.filter(F.col("k") % 13 == 0).select(
                (F.col("k") + 1_000_000).alias("k"),
                "st",
                "amount_c",
                F.lit(1).cast("long").alias("ver"),
            )
        ),
        when_matched="update",
        matched_condition="t.st = 'O'",
        when_not_matched="insert",
    )
    return t.read().select("k", "st", "amount_c", "ver", "seq")


def q_txlog_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row tracking on the hash: stable ``_row_id`` assigned at the
    initial append (key order — one bucket, the q_txlog_identity
    convention), PRESERVED byte-identically through an UPDATE, a
    latest-wins merge of the same keys, a delete, and a full
    ``compact()`` rewrite; merge-inserted keys continue the watermark.
    The oracle reconstructs every surviving row's id from ``orders``,
    so assignment order, inherit-on-update, rewrite preservation, and
    never-reuse-after-delete are all driver-checked."""
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txrt-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=1,
        row_tracking=True,
    )
    t.append(base)
    t.update_where("k % 5 = 0", {"amount_c": "amount_c + 10"})
    t.merge_upsert(
        base.filter(F.col("k") % 4 == 0)
        .select(
            "k",
            "st",
            (F.col("amount_c") + 3).alias("amount_c"),
            F.lit(2).cast("long").alias("ver"),
        )
        .unionByName(
            base.filter(F.col("k") % 9 == 0).select(
                (F.col("k") + 1_000_000).alias("k"),
                "st",
                "amount_c",
                F.lit(1).cast("long").alias("ver"),
            )
        )
    )
    t.delete_where("k % 7 = 0 AND k <= 2000")
    t.compact()
    return t.read().select("k", "st", "amount_c", "ver", "_row_id")


def q_txlog_copy_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY INTO on the hash: land the even keys as parquet, copy them
    in, land the odd keys, then re-run ONE copy over a glob spanning
    BOTH files — the already-loaded file must be SKIPPED (the
    exactly-once ingestion contract) and only the new file loaded. The
    oracle is simply ``orders`` once over: any skip-set drift
    (double-load or missed file) breaks the row count and hash."""
    base = _base_frame(spark, sf_dir)
    land = temp_dir(prefix="txcp-land-")
    base.filter(F.col("k") % 2 == 0).coalesce(1).write.parquet(
        f"{land}/even"
    )
    t = TxTable.create(
        spark,
        temp_dir(prefix="txcp-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
    )
    t.copy_into(f"{land}/even/*.parquet")
    base.filter(F.col("k") % 2 == 1).coalesce(1).write.parquet(
        f"{land}/odd"
    )
    t.copy_into(f"{land}/*/*.parquet")  # even is seen — odd only
    return t.read().select("k", "st", "amount_c", "ver")


def q_txlog_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO txlog on the hash: land the base as a plain
    multi-file parquet directory, adopt it zero-copy (footer stats,
    bucket-spanning entries), then prove the adopted table is a REAL
    transactional table — a keyed merge updates/inserts against the
    adopted files (always-hit correctness for bucket-spanning entries)
    and a compact() adopts the hash-bucketed layout — before reading
    the final state. The oracle states it directly from ``orders``, so
    adoption, post-convert merge semantics, and layout adoption are
    all driver-checked."""
    base = _base_frame(spark, sf_dir)
    land = temp_dir(prefix="txcv-src-")
    base.repartition(3).write.mode("overwrite").parquet(f"{land}/data")
    t = TxTable.convert_from_parquet(
        spark,
        f"{land}/data",
        temp_dir(prefix="txcv-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
    )
    t.merge_upsert(
        base.filter(F.col("k") % 5 == 0)
        .select(
            "k",
            "st",
            (F.col("amount_c") + 100).alias("amount_c"),
            F.lit(2).cast("long").alias("ver"),
        )
        .unionByName(
            base.filter(F.col("k") % 13 == 0).select(
                (F.col("k") + 1_000_000).alias("k"),
                "st",
                "amount_c",
                F.lit(2).cast("long").alias("ver"),
            )
        )
    )
    t.compact()
    return t.read().select("k", "st", "amount_c", "ver")


def q_txlog_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITIONED BY gate: run a mutation program over a table
    partitioned by ``o_orderstatus`` (append → keyed merge →
    partition-level DELETE), then emit the driver-hashable contract:
    the pruned partition read returns EXACTLY the rows and sum SQL
    states, the skip-report's ``rows_skipped`` equals the other live
    partition's row count EXACTLY (partition values are invariants,
    not min/max estimates — the number is oracle-stateable, unlike
    file counts), and a zero-copy CONVERT of a hive-partitioned
    source answers the same partition query through the log-side
    value fill. Proves: stage layout, per-entry partition values,
    exact pruning, partition-crossing merge, whole-partition delete,
    and hive adoption — each against DuckDB."""
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txpart-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
        partition_by=("st",),
    )
    t.append(base)
    t.merge_upsert(
        base.filter(F.col("k") % 5 == 0).select(
            "k",
            "st",
            (F.col("amount_c") + 100).alias("amount_c"),
            F.lit(2).cast("long").alias("ver"),
        )
    )
    t.delete_where("st = 'P'")
    o_part = t.read(eq={"st": "O"})
    agg = o_part.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("amount_c").cast("long").alias("s"),
    ).collect()[0]
    rep = t.prune_report({}, eq={"st": "O"})
    n_after_delete = t.read().count()
    # zero-copy hive adoption answers the same partition query
    land = temp_dir(prefix="txpart-src-")
    base.write.partitionBy("st").parquet(f"{land}/data")
    tc = TxTable.convert_from_parquet(
        spark,
        f"{land}/data",
        temp_dir(prefix="txpart-cv-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
    )
    repc = tc.prune_report({}, eq={"st": "O"})
    row = (
        int(agg["n"]),
        int(agg["s"]),
        int(rep["rows_skipped"]),
        int(n_after_delete),
        int(tc.read(eq={"st": "O"}).count()),
        int(
            rep["files_skipped"] > 0
            and repc["files_skipped"] > 0
            and repc["files_read"] < repc["files_total"]
        ),
    )
    return spark.createDataFrame(
        [row],
        "n_o_rows long, sum_o_amount long, rows_skipped_to_f long, "
        "n_after_delete long, convert_n_o long, skips_files long",
    )


def q_txlog_sql_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse SQL DML front-end on the hash: drive a mutation
    program ENTIRELY through ``txsql`` statement strings — UPDATE ...
    WHERE, a MERGE INTO with an ordered clause list (conditional DELETE
    before unconditional UPDATE, constructed-VALUES insert), and
    DELETE FROM — against the real commit path. The oracle states the
    composed end state directly from ``orders``, so the PARSER (clause
    splitting, alias rewrite, ON-key validation, SET/VALUES mapping)
    is driver-checked end-to-end on top of the already-gated merge
    semantics. Parser only, zero new semantics: parity with the
    Python-API calls is pinned per-form in tests/test_txsql.py."""
    from kafka_flink_harshevents_spark.sources.txsql import txsql

    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txsqlg-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
    )
    t.append(base)
    txsql(
        spark,
        "UPDATE t SET amount_c = amount_c + 50, ver = 2 "
        "WHERE k % 6 = 0",
        tables={"t": t},
    )
    src = (
        base.filter(F.col("k") % 4 == 0)
        .select(
            "k",
            "st",
            (F.col("amount_c") + 77).alias("amount_c"),
            F.lit(3).cast("long").alias("ver"),
        )
        .unionByName(
            base.filter(F.col("k") % 9 == 0).select(
                (F.col("k") + 1_000_000).alias("k"),
                "st",
                "amount_c",
                F.lit(3).cast("long").alias("ver"),
            )
        )
    )
    txsql(
        spark,
        """
        MERGE INTO t USING src ON t.k = s.k
        WHEN MATCHED AND s.k % 10 = 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET amount_c = s.amount_c,
                                     ver = s.ver
        WHEN NOT MATCHED THEN INSERT (k, st, amount_c, ver)
             VALUES (s.k, s.st, s.amount_c + 1, s.ver)
        """,
        tables={"t": t},
        sources={"src": src},
    )
    txsql(spark, "DELETE FROM t WHERE k % 13 = 0", tables={"t": t})
    return t.read().select("k", "st", "amount_c", "ver")


def q_txlog_show_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW PARTITIONS on the hash: append base partitioned by
    ``o_orderstatus``, keyed-merge +100 cents on the %5 keys, row-level
    DELETE inside one partition, then list the partitions FROM THE
    COMMIT LOG ALONE (zero data files opened — ``show_partitions``).
    The oracle restates the per-partition row counts directly from
    ``orders``, so per-entry partition values, DV/remove accounting in
    the log, and the listing fold are all driver-checked. File counts
    are layout-dependent (writer-specific), so they gate as a boolean
    — the zorder-gate convention."""
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txsp-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
        partition_by=("st",),
    )
    t.append(base)
    t.merge_upsert(
        base.filter(F.col("k") % 5 == 0).select(
            "k",
            "st",
            (F.col("amount_c") + 100).alias("amount_c"),
            F.lit(2).cast("long").alias("ver"),
        )
    )
    t.delete_where("st = 'P' AND k % 3 = 0", mode="merge_on_read")
    return t.show_partitions().select(
        "st",
        "n_rows",
        (F.col("n_files") > 0).cast("long").alias("has_files"),
    )


def q_txlog_optimize_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ... WHERE gate: fragment a partitioned table with
    three appends plus a merge-on-read DV inside partition 'O', then
    compact ONLY that partition. The one-row contract: per-partition
    row counts after the scoped rewrite (oracle-stated — the DV rows
    stay deleted through the materialization), the scoped partition's
    file count dropped, the OTHER partitions' files carried forward
    byte-for-byte (path-set equality), and no deletion vector survives
    in scope — i.e. a maintenance rewrite touches exactly what its
    predicate names, the 100 TB daily-compaction pattern."""
    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txow-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
        partition_by=("st",),
    )
    # three identical blind appends — no ordering contract; overlap
    # them (the q_txlog_compact_binpack convention, guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(lambda _: t.append(base, max_retries=16), range(3)))
    t.delete_where("st = 'O' AND k % 11 = 0", mode="merge_on_read")
    _, live0, _, dvs0, *_ = _replay_log(t.table_dir)

    def split(live):
        o = {p for p, e in live.items() if e["part"]["st"] == "O"}
        rest = {p for p, e in live.items() if e["part"]["st"] != "O"}
        return o, rest

    o0, rest0 = split(live0)
    t.compact(where="st = 'O'")
    _, live1, _, dvs1, *_ = _replay_log(t.table_dir)
    o1, rest1 = split(live1)
    counts = {
        r["st"]: r["n_rows"] for r in t.show_partitions().collect()
    }
    row = (
        int(counts.get("O", 0)),
        int(counts.get("F", 0)),
        int(counts.get("P", 0)),
        int(len(o1) < len(o0)),
        int(rest1 == rest0),
        int(not any(p in o1 for p in dvs1)),
    )
    return spark.createDataFrame(
        [row],
        "n_rows_o long, n_rows_f long, n_rows_p long, "
        "o_compacted long, rest_untouched long, dv_materialized long",
    )


def q_txlog_time_travel_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel SELECT on the hash: append base (capturing that
    commit's version AND recorded timestamp), then mutate twice
    (keyed merge +100 on the %5 keys, DELETE %7) — and read the
    ORIGINAL snapshot back through the SQL grammar
    ``SELECT ... FROM t VERSION AS OF n``. The oracle restates the
    base frame directly from ``orders``, so version resolution, the
    snapshot file list, and the txsql target rewrite are all
    driver-checked. A second probe reads ``TIMESTAMP AS OF`` the
    commit's own recorded stamp and gates row-count equality with the
    version read (clamped-monotonic timestamp resolution)."""
    from kafka_flink_harshevents_spark.sources.txlog import _read_record
    from kafka_flink_harshevents_spark.sources.txsql import txsql

    base = _base_frame(spark, sf_dir)
    t = TxTable.create(
        spark,
        temp_dir(prefix="txtt-"),
        key_cols=("k",),
        order_col="ver",
        n_buckets=2,
    )
    v0 = t.append(base)
    ts0 = _read_record(t.table_dir, v0)["ts"]
    t.merge_upsert(
        base.filter(F.col("k") % 5 == 0).select(
            "k",
            "st",
            (F.col("amount_c") + 100).alias("amount_c"),
            F.lit(2).cast("long").alias("ver"),
        )
    )
    t.delete_where("k % 7 = 0")
    snap = txsql(
        spark,
        f"SELECT k, st, amount_c, ver FROM t VERSION AS OF {v0}",
        tables={"t": t},
    )
    n_ts = txsql(
        spark,
        f"SELECT count(*) AS n FROM t TIMESTAMP AS OF {ts0}",
        tables={"t": t},
    ).collect()[0]["n"]
    return snap.withColumn(
        "ts_as_of_matches",
        F.lit(int(int(n_ts) == snap.count())).cast("long"),
    )


def q_txlog_changes_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVM consumer written ENTIRELY in SQL: reconstruct the
    table's final state from the v0 snapshot plus
    ``table_changes(t, v0+1)`` — the Delta CDF read TVF — in one
    statement (snapshot ∪ feed, latest record per key wins,
    insert/postimage outranks delete within a commit). The same
    downstream-materialized-view contract as ``q_txlog_cdf_replay``
    (same oracle), but the feed consumption, ranking, and survivorship
    run through the txsql SELECT front-end + Catalyst rather than the
    DataFrame API — so the TVF rewrite, the change-feed DataSource
    serving path, and the SQL planning of the replay are all on the
    hash together. Queued for the r11 driver window (pytest-oracled
    this round, the show_partitions/optimize_where convention)."""
    from kafka_flink_harshevents_spark.sources.txsql import txsql

    t, v0 = _build_mutated_table(spark, sf_dir, cdf=True)
    t.read(version=v0).createOrReplaceTempView("__tvf_snap0")
    return txsql(
        spark,
        f"""
        WITH feed AS (
            SELECT k, st, amount_c, ver,
                   _commit_version AS seq,
                   CASE WHEN _change_type IN
                        ('insert', 'update_postimage')
                        THEN 1 ELSE 0 END AS alive
            FROM table_changes(tt, {v0 + 1})
        ),
        base AS (
            SELECT k, st, amount_c, ver,
                   CAST(0 AS LONG) AS seq, 1 AS alive
            FROM __tvf_snap0
        ),
        uni AS (
            SELECT * FROM base UNION ALL SELECT * FROM feed
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY k ORDER BY seq DESC, alive DESC
            ) AS rn
            FROM uni
        )
        SELECT k, st, amount_c, ver
        FROM ranked WHERE rn = 1 AND alive = 1
        """,
        tables={"tt": t},
    )


def q_txlog_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE DETAIL gate: run the standard 3-commit mutation
    program, then profile the table FROM THE LOG ALONE
    (``TxTable.detail`` via the SQL statement). The one-row contract:
    the exact DV-adjusted row count (oracle-stated from ``orders``),
    the commit count (create + append + merge + delete = version 4),
    the format tag, and the layout-dependent facts (files, bytes,
    timestamp ordering) as booleans — the zorder-gate convention.
    Queued for the r11 driver window."""
    from kafka_flink_harshevents_spark.sources.txsql import txsql

    t, _ = _build_mutated_table(spark, sf_dir)
    d = txsql(spark, "DESCRIBE DETAIL t", tables={"t": t}).collect()[0]
    row = (
        int(d["num_rows"]),
        int(d["version"]),
        d["format"],
        int(d["num_files"] > 0),
        int(d["size_bytes"] > 0),
        int(d["created_at"] <= d["last_modified"]),
        int(len(d["partition_columns"]) == 0),
    )
    return spark.createDataFrame(
        [row],
        "num_rows long, version long, format string, has_files long, "
        "has_bytes long, ts_ordered long, unpartitioned long",
    )


QUERIES = {
    "q_txlog_partitioned": q_txlog_partitioned,
    "q_txlog_time_travel_sql": q_txlog_time_travel_sql,
    "q_txlog_changes_tvf": q_txlog_changes_tvf,
    "q_txlog_detail": q_txlog_detail,
    "q_txlog_sql_merge": q_txlog_sql_merge,
    "q_txlog_show_partitions": q_txlog_show_partitions,
    "q_txlog_optimize_where": q_txlog_optimize_where,
    "q_txlog_cdf_replay": q_txlog_cdf_replay,
    "q_txlog_compact_binpack": q_txlog_compact_binpack,
    "q_txlog_rename_column": q_txlog_rename_column,
    "q_txlog_type_widening": q_txlog_type_widening,
    "q_txlog_where_skip": q_txlog_where_skip,
    "q_txlog_explain_skip": q_txlog_explain_skip,
    "q_txlog_merge_prune": q_txlog_merge_prune,
    "q_txlog_auto_compact": q_txlog_auto_compact,
    "q_txlog_replace_where": q_txlog_replace_where,
    "q_txlog_merge_into": q_txlog_merge_into,
    "q_txlog_merge_clauses": q_txlog_merge_clauses,
    "q_txlog_merge_evolution": q_txlog_merge_evolution,
    "q_txlog_identity": q_txlog_identity,
    "q_txlog_row_tracking": q_txlog_row_tracking,
    "q_txlog_copy_into": q_txlog_copy_into,
    "q_txlog_convert": q_txlog_convert,
    "q_txlog_restore_gate": q_txlog_restore_gate,
    "q_txlog_drop_column": q_txlog_drop_column,
    "q_txlog_metadata_agg": q_txlog_metadata_agg,
    "q_txlog_zorder_gate": q_txlog_zorder_gate,
    "q_txlog_datasource_read": q_txlog_datasource_read,
    "q_txlog_writer_roundtrip": q_txlog_writer_roundtrip,
    "q_txlog_cdc_apply": q_txlog_cdc_apply,
    "q_txlog_clone_isolation": q_txlog_clone_isolation,
    "q_txlog_generated_cols": q_txlog_generated_cols,
}

# The mutation program in SQL terms (base = orders, k ≤ 2000, cents):
#   state after append+merge: every key, amount +100 where k%3=0 or
#   k%5=0 (merge inserts the %3 keys the append skipped, updates the
#   %5 overlap latest-wins), ver 2 on merged keys; then DELETE k%7=0.
ORACLES = {
    # time-travel SELECT: the VERSION AS OF v0 snapshot IS the base
    # frame — later merge/delete must be invisible; the TIMESTAMP AS
    # OF probe gates as a constant boolean
    "q_txlog_time_travel_sql": f"""
        SELECT o_orderkey AS k, o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c,
               CAST(1 AS BIGINT) AS ver,
               CAST(1 AS BIGINT) AS ts_as_of_matches
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
    """,
    # show_partitions: append + merge(%5, no row-count change) + a
    # merge-on-read delete of the P-partition %3 keys; counts from the
    # LOG must equal the per-status counts SQL states
    "q_txlog_show_partitions": f"""
        SELECT o_orderstatus AS st,
               CAST(COUNT(*) FILTER (WHERE NOT (
                   o_orderstatus = 'P' AND o_orderkey % 3 = 0
               )) AS BIGINT) AS n_rows,
               CAST(1 AS BIGINT) AS has_files
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
        GROUP BY o_orderstatus
    """,
    # optimize_where: 3 blind appends (3 copies per key) + DV delete
    # of O-partition %11 keys, then a compact scoped to O — counts are
    # 3× per status minus the three deleted copies; booleans state the
    # scoped-rewrite contract
    "q_txlog_optimize_where": f"""
        WITH c AS (
            SELECT o_orderstatus AS st,
                   CAST(3 * COUNT(*) FILTER (WHERE NOT (
                       o_orderstatus = 'O' AND o_orderkey % 11 = 0
                   )) AS BIGINT) AS n
            FROM orders
            WHERE o_orderkey <= {_KEY_CAP}
            GROUP BY o_orderstatus
        )
        SELECT
          (SELECT n FROM c WHERE st = 'O') AS n_rows_o,
          (SELECT n FROM c WHERE st = 'F') AS n_rows_f,
          (SELECT n FROM c WHERE st = 'P') AS n_rows_p,
          CAST(1 AS BIGINT) AS o_compacted,
          CAST(1 AS BIGINT) AS rest_untouched,
          CAST(1 AS BIGINT) AS dv_materialized
    """,
    # program: UPDATE +50/ver2 on k%6=0; MERGE src=(k%4=0 → +77/ver3,
    # +1M keys for k%9=0) with DELETE on matched k%10=0 (i.e. k%20=0),
    # UPDATE otherwise, constructed INSERT (+1 cent); DELETE k%13=0.
    "q_txlog_sql_merge": f"""
        WITH base AS (
            SELECT o_orderkey AS k, o_orderstatus AS st,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c
            FROM orders WHERE o_orderkey <= {_KEY_CAP}
        )
        SELECT k, st,
               CASE WHEN k % 4 = 0 THEN amount_c + 77
                    WHEN k % 6 = 0 THEN amount_c + 50
                    ELSE amount_c END AS amount_c,
               CAST(CASE WHEN k % 4 = 0 THEN 3
                         WHEN k % 6 = 0 THEN 2
                         ELSE 1 END AS BIGINT) AS ver
        FROM base
        WHERE NOT (k % 20 = 0) AND k % 13 <> 0
        UNION ALL
        SELECT k + 1000000 AS k, st, amount_c + 1 AS amount_c,
               CAST(3 AS BIGINT) AS ver
        FROM base
        WHERE k % 9 = 0 AND (k + 1000000) % 13 <> 0
    """,
    "q_txlog_partitioned": f"""
        WITH base AS (
            SELECT o_orderkey AS k, o_orderstatus AS st,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT)
                     + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END
                     AS amount_c
            FROM orders WHERE o_orderkey <= {_KEY_CAP}
        )
        SELECT
          CAST((SELECT COUNT(*) FROM base WHERE st = 'O') AS BIGINT)
            AS n_o_rows,
          CAST((SELECT SUM(amount_c) FROM base WHERE st = 'O') AS BIGINT)
            AS sum_o_amount,
          CAST((SELECT COUNT(*) FROM base WHERE st = 'F') AS BIGINT)
            AS rows_skipped_to_f,
          CAST((SELECT COUNT(*) FROM base WHERE st <> 'P') AS BIGINT)
            AS n_after_delete,
          CAST((SELECT COUNT(*) FROM base WHERE st = 'O') AS BIGINT)
            AS convert_n_o,
          CAST(1 AS BIGINT) AS skips_files
    """,
    "q_txlog_convert": f"""
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END
                 AS amount_c,
               CAST(CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END
                    AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
        UNION ALL
        SELECT o_orderkey + 1000000 AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c,
               CAST(2 AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP} AND o_orderkey % 13 = 0
    """,
    "q_txlog_copy_into": f"""
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c,
               CAST(1 AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
    """,
    "q_txlog_identity": f"""
        WITH base AS (
            SELECT o_orderkey AS k,
                   o_orderstatus AS st,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c
            FROM orders WHERE o_orderkey <= {_KEY_CAP}
        ),
        a AS (
            SELECT k, st, amount_c,
                   ROW_NUMBER() OVER (ORDER BY k) AS rn
            FROM base WHERE k % 2 = 0
        ),
        b AS (
            SELECT k, st, amount_c,
                   ROW_NUMBER() OVER (ORDER BY k) AS rn
            FROM base WHERE k % 2 = 1 AND k % 3 = 0
        ),
        c AS (
            SELECT k, st, amount_c,
                   ROW_NUMBER() OVER (ORDER BY k) AS rn
            FROM base WHERE k % 13 = 0
        )
        SELECT k, st,
               amount_c + CASE WHEN k % 10 = 0 AND st = 'O' THEN 7
                               WHEN k % 6 = 0 THEN 50
                               ELSE 0 END AS amount_c,
               CAST(CASE WHEN k % 10 = 0 AND st = 'O' THEN 3
                         WHEN k % 6 = 0 THEN 2
                         ELSE 1 END AS BIGINT) AS ver,
               CAST(rn AS BIGINT) AS seq
        FROM a
        UNION ALL
        SELECT k, st, amount_c, CAST(1 AS BIGINT) AS ver,
               CAST((SELECT count(*) FROM a) + rn AS BIGINT) AS seq
        FROM b
        UNION ALL
        SELECT k + 1000000 AS k, st, amount_c, CAST(1 AS BIGINT) AS ver,
               CAST((SELECT count(*) FROM a) + (SELECT count(*) FROM b)
                    + rn AS BIGINT) AS seq
        FROM c
    """,
    "q_txlog_row_tracking": f"""
        WITH base AS (
            SELECT o_orderkey AS k,
                   o_orderstatus AS st,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c
            FROM orders WHERE o_orderkey <= {_KEY_CAP}
        ),
        r AS (
            SELECT k, st, amount_c,
                   ROW_NUMBER() OVER (ORDER BY k) - 1 AS rid
            FROM base
        ),
        s AS (
            SELECT k, st, amount_c,
                   ROW_NUMBER() OVER (ORDER BY k) - 1 AS rn
            FROM base WHERE k % 9 = 0
        )
        SELECT k, st,
               amount_c + CASE WHEN k % 4 = 0 THEN 3
                               WHEN k % 5 = 0 THEN 10
                               ELSE 0 END AS amount_c,
               CAST(CASE WHEN k % 4 = 0 THEN 2 ELSE 1 END AS BIGINT)
                 AS ver,
               CAST(rid AS BIGINT) AS _row_id
        FROM r
        WHERE k % 7 <> 0
        UNION ALL
        SELECT k + 1000000 AS k, st, amount_c, CAST(1 AS BIGINT) AS ver,
               CAST((SELECT count(*) FROM base) + rn AS BIGINT)
                 AS _row_id
        FROM s
    """,
    "q_txlog_compact_binpack": f"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_amount_c,
               CAST(1 AS BIGINT) AS files_reduced,
               CAST(1 AS BIGINT) AS mean_file_grew,
               CAST(1 AS BIGINT) AS dv_materialized
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP} AND o_orderkey % 7 <> 0
    """,
    "q_txlog_merge_evolution": f"""
        WITH base AS (
            SELECT o_orderkey AS k,
                   o_orderstatus AS st,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c
            FROM orders WHERE o_orderkey <= {_KEY_CAP}
        )
        SELECT k, st,
               amount_c + CASE WHEN k % 6 = 0 THEN 9 ELSE 0 END
                 AS amount_c,
               CAST(CASE WHEN k % 6 = 0 THEN 2 ELSE 1 END AS BIGINT)
                 AS ver,
               CASE WHEN k % 6 = 0 THEN 'e' ELSE '-' END AS flag
        FROM base
        UNION ALL
        SELECT k + 1000000 AS k, st, amount_c, CAST(2 AS BIGINT), 'i'
        FROM base WHERE k % 17 = 0
        UNION ALL
        SELECT k + 2000000 AS k, st, amount_c, CAST(3 AS BIGINT), 'z'
        FROM base WHERE k % 19 = 0 AND amount_c % 2 = 0
        UNION ALL
        SELECT k + 2000000 AS k, 'x' AS st, amount_c * 2 AS amount_c,
               CAST(13 AS BIGINT) AS ver, '-' AS flag
        FROM base WHERE k % 19 = 0 AND amount_c % 2 <> 0
    """,
    "q_txlog_merge_clauses": f"""
        WITH base AS (
            SELECT o_orderkey AS k,
                   o_orderstatus AS st,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c
            FROM orders WHERE o_orderkey <= {_KEY_CAP}
        )
        SELECT k, st,
               CASE WHEN k % 4 = 0 AND st = 'O'
                    THEN amount_c + 77 ELSE amount_c END AS amount_c,
               CAST(CASE WHEN k % 4 = 0 AND st = 'O' THEN 2
                         WHEN k % 4 <> 0 AND st = 'P' THEN 11
                         ELSE 1 END AS BIGINT) AS ver
        FROM base
        WHERE NOT (k % 4 = 0 AND st = 'F' AND k % 8 = 0)
        UNION ALL
        SELECT k + 1000000 AS k, st, amount_c, CAST(2 AS BIGINT) AS ver
        FROM base
        WHERE k % 11 = 0 AND k % 2 = 1
    """,
    "q_txlog_merge_into": f"""
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 + CASE WHEN o_orderkey % 5 = 0 AND o_orderstatus = 'F'
                        THEN 100 ELSE 0 END AS amount_c,
               CAST(CASE WHEN o_orderkey % 5 = 0 AND o_orderstatus = 'F'
                         THEN 2 ELSE 1 END AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
        UNION ALL
        SELECT o_orderkey + 1000000 AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c,
               CAST(2 AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP} AND o_orderkey % 13 = 0
    """,
    "q_txlog_where_skip": f"""
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c,
               CAST(1 AS BIGINT) AS ver,
               CAST(1 AS BIGINT) AS skip_proved
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
          AND o_orderkey IN (3, 700, 1042)
          AND ROUND(o_totalprice * 100) > 0
    """,
    "q_txlog_explain_skip": f"""
        SELECT 'range_low' AS stmt,
               CAST(8 AS BIGINT) AS files_total,
               CAST(4 AS BIGINT) AS files_read,
               (SELECT CAST(count(*) AS BIGINT) FROM orders
                 WHERE o_orderkey > 1000 AND o_orderkey <= {_KEY_CAP})
                 AS rows_skipped,
               '{{"prune": {{"k": [null, 1000]}}}}' AS filters
        UNION ALL
        SELECT 'unprunable',
               CAST(8 AS BIGINT), CAST(8 AS BIGINT),
               CAST(0 AS BIGINT), '{{}}'
        UNION ALL
        SELECT 'dml_between',
               CAST(8 AS BIGINT), CAST(4 AS BIGINT),
               (SELECT CAST(count(*) AS BIGINT) FROM orders
                 WHERE o_orderkey <= 1000),
               '{{"prune": {{"k": [1001, 2000]}}}}'
    """,
    "q_txlog_merge_prune": f"""
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 + CASE WHEN o_orderkey IN (5, 105, 205)
                        THEN 1000 ELSE 0 END
                 AS amount_c,
               CAST(CASE WHEN o_orderkey IN (5, 105, 205)
                         THEN 2 ELSE 1 END AS BIGINT) AS ver,
               CAST(1 AS BIGINT) AS prune_proved
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
    """,
    "q_txlog_auto_compact": f"""
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c,
               CAST(1 AS BIGINT) AS ver,
               CAST(1 AS BIGINT) AS compact_proved
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
    """,
    "q_txlog_replace_where": f"""
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 + CASE WHEN o_orderkey % 3 = 0 THEN 500 ELSE 0 END
                 AS amount_c,
               CAST(CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END
                    AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
    """,
    "q_txlog_type_widening": f"""
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END
                 AS amount_c,
               CAST(CASE WHEN o_orderkey % 5 = 0 THEN 3 ELSE 1 END
                    AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
        UNION ALL
        SELECT o_orderkey + 1000000 AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 + 100000000000 AS amount_c,
               CAST(2 AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP} AND o_orderkey % 13 = 0
    """,
    "q_txlog_rename_column": f"""
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END
                 AS amount_cents,
               CAST(CASE WHEN o_orderkey % 5 = 0 THEN 3 ELSE 1 END
                    AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
        UNION ALL
        SELECT o_orderkey + 1000000 AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_cents,
               CAST(2 AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP} AND o_orderkey % 13 = 0
    """,
    "q_txlog_cdf_replay": f"""
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 + CASE WHEN o_orderkey % 3 = 0 OR o_orderkey % 5 = 0
                        THEN 100 ELSE 0 END AS amount_c,
               CAST(CASE WHEN o_orderkey % 3 = 0 OR o_orderkey % 5 = 0
                         THEN 2 ELSE 1 END AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP} AND o_orderkey % 7 <> 0
    """,
    # detail: exact rows after append+merge+delete; 4 commits; the
    # layout-dependent facts gate as booleans
    "q_txlog_detail": f"""
        SELECT CAST(count(*) AS BIGINT) AS num_rows,
               CAST(4 AS BIGINT) AS version,
               'txlog' AS format,
               CAST(1 AS BIGINT) AS has_files,
               CAST(1 AS BIGINT) AS has_bytes,
               CAST(1 AS BIGINT) AS ts_ordered,
               CAST(1 AS BIGINT) AS unpartitioned
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP} AND o_orderkey % 7 <> 0
    """,
    # the TVF replay reconstructs the same final state via SQL
    "q_txlog_changes_tvf": f"""
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 + CASE WHEN o_orderkey % 3 = 0 OR o_orderkey % 5 = 0
                        THEN 100 ELSE 0 END AS amount_c,
               CAST(CASE WHEN o_orderkey % 3 = 0 OR o_orderkey % 5 = 0
                         THEN 2 ELSE 1 END AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP} AND o_orderkey % 7 <> 0
    """,
    "q_txlog_metadata_agg": f"""
        WITH base AS (
            SELECT o_orderkey AS k,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT)
                     + CASE WHEN o_orderkey % 3 = 0 OR o_orderkey % 5 = 0
                            THEN 100 ELSE 0 END AS amount_c
            FROM orders WHERE o_orderkey <= {_KEY_CAP}
        ), v0 AS (
            SELECT o_orderkey AS k,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c
            FROM orders
            WHERE o_orderkey <= {_KEY_CAP} AND o_orderkey % 3 <> 0
        )
        SELECT (SELECT count(*) FROM base WHERE k % 7 <> 0) AS rows_latest,
               (SELECT min(k) FROM base WHERE k % 7 <> 0) AS min_k_latest,
               (SELECT max(k) FROM base WHERE k % 7 <> 0) AS max_k_latest,
               (SELECT max(amount_c) FROM base WHERE k % 7 <> 0)
                   AS max_amount_latest,
               (SELECT count(*) FROM v0) AS rows_v0,
               (SELECT min(k) FROM v0) AS min_k_v0,
               (SELECT max(k) FROM v0) AS max_k_v0,
               (SELECT max(amount_c) FROM v0) AS max_amount_v0
    """,
    "q_txlog_datasource_read": f"""
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 + CASE WHEN o_orderkey % 3 = 0 OR o_orderkey % 5 = 0
                        THEN 100 ELSE 0 END AS amount_c,
               CAST(CASE WHEN o_orderkey % 3 = 0 OR o_orderkey % 5 = 0
                         THEN 2 ELSE 1 END AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP} AND o_orderkey % 7 <> 0
    """,
    "q_txlog_cdc_apply": f"""
        SELECT k, st, amount_c, ver FROM (
            SELECT o_orderkey AS k,
                   o_orderstatus AS st,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT)
                     + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END
                     AS amount_c,
                   CAST(CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END
                        AS BIGINT) AS ver
            FROM orders
            WHERE o_orderkey <= {_KEY_CAP} AND o_orderkey % 7 <> 0
            UNION ALL
            SELECT o_orderkey + 1000000 AS k,
                   o_orderstatus AS st,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c,
                   CAST(2 AS BIGINT) AS ver
            FROM orders
            WHERE o_orderkey <= {_KEY_CAP} AND o_orderkey % 13 = 0
        )
    """,
    "q_txlog_writer_roundtrip": f"""
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END
                 AS amount_c,
               CAST(CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END
                    AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
    """,
    "q_txlog_restore_gate": f"""
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c,
               CAST(1 AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
    """,
    "q_txlog_drop_column": f"""
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c,
               CAST(1 AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
        UNION ALL
        SELECT o_orderkey + 1000000 AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c,
               CAST(2 AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP} AND o_orderkey % 13 = 0
    """,
    "q_txlog_clone_isolation": f"""
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_c,
               CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) % 97
                    AS BIGINT) AS amount_band,
               CAST(1 AS BIGINT) AS ver,
               'src' AS side
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP} AND o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END
                 AS amount_c,
               CAST((CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END) % 97
                    AS BIGINT) AS amount_band,
               CAST(CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END
                    AS BIGINT) AS ver,
               'clone' AS side
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
    """,
    "q_txlog_generated_cols": f"""
        SELECT o_orderkey AS k,
               o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 + CASE WHEN o_orderkey % 3 = 0 OR o_orderkey % 5 = 0
                        THEN 100 ELSE 0 END AS amount_c,
               CAST((CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 + CASE WHEN o_orderkey % 3 = 0 OR o_orderkey % 5 = 0
                        THEN 100 ELSE 0 END) % 97
                    AS BIGINT) AS amount_band,
               CAST(CASE WHEN o_orderkey % 3 = 0 OR o_orderkey % 5 = 0
                         THEN 2 ELSE 1 END AS BIGINT) AS ver
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
    """,
    "q_txlog_zorder_gate": f"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows_in_range,
               CAST(1 AS BIGINT) AS multiset_preserved,
               CAST(1 AS BIGINT) AS skips_files,
               CAST(1 AS BIGINT) AS reads_subset
        FROM orders
        WHERE o_orderkey <= {_KEY_CAP}
          AND (o_custkey % 1000) BETWEEN 100 AND 200
    """,
}
