"""Partitioned tables in the txlog layer — Delta's PARTITIONED BY
composed with the hash-bucketed layout, plus CONVERT of hive-partitioned
parquet (reference partitions its stream 6 ways by key, README.md:287-297;
this is the batch-table twin of that layout decision).

What must hold: the staged layout splits one file per (partition tuple ×
bucket); every add-entry records exact partition values; read()/
prune_report()/the find-scans skip non-matching files EXACTLY (a
partition value is an invariant, not an estimate); rewrites (compact /
zorder / rebucket / update) preserve the layout and values; hive CONVERT
adopts partitioned sources zero-copy with log-side value fill until the
first compact materializes the columns."""

from __future__ import annotations

import datetime
import glob
import os

import pytest
from pyspark.sql import functions as F

from kafka_flink_harshevents_spark.sources.txlog import (
    TxTable,
    _infer_part_type,
    _part_scalar_of_dir,
    _replay_log,
)
from kafka_flink_harshevents_spark.sources.txskip import _part_may_match


def _mkp(spark, tmp_path, name="pt", partition_by=("region",), **kw):
    return TxTable.create(
        spark, str(tmp_path / name), key_cols=("k",), order_col="ver",
        n_buckets=2, partition_by=partition_by, **kw,
    )


def _frame(spark, n=30):
    return spark.createDataFrame(
        [(k, ["eu", "us", "ap"][k % 3], k * 10, 1) for k in range(n)],
        "k long, region string, v long, ver long",
    )


def test_partitioned_layout_entries_and_exact_pruning(spark, tmp_path):
    t = _mkp(spark, tmp_path)
    t.append(_frame(spark))
    live = _replay_log(t.table_dir).live
    ents = list(live.values())
    # one file per (partition value × touched bucket); values recorded
    assert len(ents) == 6
    assert all(e["part"]["region"] in ("eu", "us", "ap") for e in ents)
    # partition values double as min==max stats
    assert all(
        e["stats"]["cols"]["region"][:2] == [e["part"]["region"]] * 2
        for e in ents
    )
    # the directory layout is hive-style under each staged root
    assert all("_hp_region=" in e["path"] for e in ents)
    rep = t.prune_report({}, eq={"region": "eu"})
    assert rep == {
        "files_total": 6, "files_read": 2,
        "files_skipped": 4, "rows_skipped": 20,
    }
    got = sorted(r["k"] for r in t.read(eq={"region": "eu"}).collect())
    assert got == [k for k in range(30) if k % 3 == 0]


def test_partitioned_null_and_int_values(spark, tmp_path):
    t = _mkp(spark, tmp_path, partition_by=("day",))
    df = spark.createDataFrame(
        [(1, 5, 1, 1), (2, 5, 2, 1), (3, None, 3, 1)],
        "k long, day long, v long, ver long",
    )
    t.append(df)
    live = _replay_log(t.table_dir).live
    parts = sorted(
        (e["part"]["day"] is None, e["part"]["day"] or 0)
        for e in live.values()
    )
    assert any(p[0] for p in parts) and any(p[1] == 5 for p in parts)
    # NULL partition: equality and ranges match nothing — exact skip
    rep = t.prune_report({}, eq={"day": 5})
    assert rep["files_read"] < rep["files_total"]
    assert sorted(
        r["k"] for r in t.read(eq={"day": 5}).collect()
    ) == [1, 2]
    assert t.read(prune={"day": (0, 10)}).count() == 2
    # the null row is still IN the table
    assert t.read().count() == 3


def test_partitioned_refusals(spark, tmp_path):
    with pytest.raises(ValueError, match="duplicate"):
        _mkp(spark, tmp_path, "a", partition_by=("x", "x"))
    with pytest.raises(ValueError, match="reserved"):
        _mkp(spark, tmp_path, "b", partition_by=("_bucket",))
    with pytest.raises(ValueError, match="IDENTITY"):
        _mkp(
            spark, tmp_path, "c", partition_by=("rid",),
            identity_cols={"rid": {}},
        )
    t = _mkp(spark, tmp_path, "d", partition_by=("p",))
    # frame missing the partition column
    with pytest.raises(ValueError, match="lacks partition column"):
        t.append(
            spark.createDataFrame([(1, 1, 1)], "k long, v long, ver long")
        )
    # float-typed partition column
    with pytest.raises(ValueError, match="must be one of"):
        t.append(
            spark.createDataFrame(
                [(1, 0.5, 1, 1)], "k long, p double, v long, ver long"
            )
        )
    # the DataSource writer refuses partitioned tables
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
    )

    spark.dataSource.register(TxLogStreamSource)
    t2 = _mkp(spark, tmp_path, "e")
    t2.append(_frame(spark, 3))
    with pytest.raises(Exception, match="PARTITIONED"):
        _frame(spark, 3).write.format("txlog").option(
            "tabledir", str(tmp_path / "e")
        ).mode("append").save()
    # partition columns are undroppable
    with pytest.raises(ValueError, match="partition column"):
        t2.drop_columns(("region",))


def test_partitioned_rewrites_preserve_values(spark, tmp_path):
    t = _mkp(spark, tmp_path, partition_by=("region",), cdf=True)
    t.append(_frame(spark))
    t.merge_upsert(
        spark.createDataFrame(
            [(1, "us", 99, 2)], "k long, region string, v long, ver long"
        )
    )
    t.compact()
    t.optimize_zorder(("v",))
    t.rebucket(4)
    live = _replay_log(t.table_dir).live
    assert all(
        set(e.get("part") or {}) == {"region"} for e in live.values()
    )
    got = sorted(r["k"] for r in t.read(eq={"region": "us"}).collect())
    assert got == sorted({k for k in range(30) if k % 3 == 1} | {1})
    # update moving a row ACROSS partitions relocates its file
    t.update_where("k = 4", {"region": "'eu'"})
    assert 4 in {
        r["k"] for r in t.read(eq={"region": "eu"}).collect()
    }
    assert 4 not in {
        r["k"] for r in t.read(eq={"region": "us"}).collect()
    }
    # CDF over the partitioned mutations carries the partition column
    ch = t.table_changes(3)
    assert "region" in ch.columns and ch.count() > 0


def test_partitioned_suffix_uniqueness_two_cols_with_dvs(spark, tmp_path):
    t = _mkp(spark, tmp_path, partition_by=("a", "b"))
    df = spark.createDataFrame(
        [(k, k % 2, k % 3, k * 10, 1) for k in range(60)],
        "k long, a long, b long, v long, ver long",
    )
    t.append(df)
    live = _replay_log(t.table_dir).live
    sfx = {"/".join(p.split("/")[-3:]) for p in live}
    assert len(sfx) == len(live)  # DV join key stays unique
    t.delete_where("k % 5 = 0", mode="merge_on_read")
    got = sorted(r["k"] for r in t.read().collect())
    assert got == [k for k in range(60) if k % 5 != 0]
    got = sorted(r["k"] for r in t.read(eq={"a": 1, "b": 2}).collect())
    assert got == [
        k for k in range(60) if k % 2 == 1 and k % 3 == 2 and k % 5 != 0
    ]


@pytest.mark.parametrize("distributed", [False, True])
def test_partitioned_bloom_on_every_entry(spark, tmp_path, monkeypatch,
                                          distributed):
    """A partitioned, bloom-indexed table records a bitmap on every
    add-entry, with two partition levels, whether the bitmaps come from
    the driver-side read of a small stage or from the distributed job
    past ``_BLOOM_DRIVER_MAX_BYTES``; the bitmaps then skip files."""
    import kafka_flink_harshevents_spark.sources.txlog as txmod

    if distributed:
        monkeypatch.setattr(txmod, "_BLOOM_DRIVER_MAX_BYTES", 0)
    t = _mkp(spark, tmp_path, partition_by=("a", "b"), bloom_cols=("k",))
    t.append(spark.createDataFrame(
        [(k, k % 2, k % 3, 1) for k in range(24)],
        "k long, a long, b long, ver long",
    ))
    ents = list(_replay_log(t.table_dir).live.values())
    assert len(ents) > 6
    assert all("k" in e.get("bloom", {}) for e in ents)
    assert t.prune_report({}, eq={"k": 7})["files_read"] == 1


def test_convert_hive_partitioned_adopts_and_fills(spark, tmp_path):
    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        [
            (k, ["eu", "us", "ap"][k % 3], k % 4, k * 10, 1)
            for k in range(40)
        ],
        "k long, region string, day long, v long, ver long",
    )
    df.write.partitionBy("region", "day").parquet(src)
    t = TxTable.convert_from_parquet(
        spark, src, str(tmp_path / "t"),
        key_cols=("k",), order_col="ver", n_buckets=2,
    )
    assert t.meta.get("partition_by") == ["region", "day"]
    live = _replay_log(t.table_dir).live
    assert all(
        e["bucket"] == -1 and e.get("pfill") for e in live.values()
    )
    # read FILLS the directory-only values back in, typed
    rows = {r["k"]: (r["region"], r["day"]) for r in t.read().collect()}
    assert rows == {
        k: (["eu", "us", "ap"][k % 3], k % 4) for k in range(40)
    }
    assert dict(t.read().dtypes)["day"] == "bigint"
    # pruning works from commit one (values from directory names)
    rep = t.prune_report({}, eq={"region": "eu", "day": 1})
    assert rep["files_read"] < rep["files_total"]
    got = sorted(
        r["k"]
        for r in t.read(eq={"region": "eu", "day": 1}).collect()
    )
    assert got == [k for k in range(40) if k % 3 == 0 and k % 4 == 1]
    # keyed merge against the adopted files sees filled values
    t.merge_upsert(
        spark.createDataFrame(
            [(1, "eu", 0, 999, 2)],
            "k long, region string, day long, v long, ver long",
        )
    )
    r1 = [r for r in t.read().collect() if r["k"] == 1][0]
    assert (r1["v"], r1["region"], r1["day"]) == (999, "eu", 0)


def test_convert_hive_datasource_refuses_until_compact(spark, tmp_path):
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
    )

    spark.dataSource.register(TxLogStreamSource)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(k, k % 2, k, 1) for k in range(10)],
        "k long, p long, v long, ver long",
    ).write.partitionBy("p").parquet(src)
    d = str(tmp_path / "t")
    t = TxTable.convert_from_parquet(
        spark, d_src := src, d, key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    with pytest.raises(Exception, match="log-side fill"):
        spark.read.format("txlog").option("tabledir", d).load().count()
    t.compact()
    live = _replay_log(t.table_dir).live
    assert not any(e.get("pfill") for e in live.values())
    assert (
        spark.read.format("txlog").option("tabledir", d).load().count()
        == 10
    )
    # post-compact the column is physical; pruning still exact
    got = sorted(r["k"] for r in t.read(eq={"p": 1}).collect())
    assert got == [k for k in range(10) if k % 2 == 1]


def test_convert_hive_date_inference_and_clone(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(k, datetime.date(2024, 1, 1 + k % 3), 1) for k in range(9)],
        "k long, d date, ver long",
    ).write.partitionBy("d").parquet(src)
    t = TxTable.convert_from_parquet(
        spark, src, str(tmp_path / "t"),
        key_cols=("k",), order_col="ver", n_buckets=2,
    )
    assert dict(t.read().dtypes)["d"] == "date"
    assert t.read(eq={"d": datetime.date(2024, 1, 2)}).count() == 3
    # a clone inherits the partition contract and the fill entries
    c = t.clone_to(str(tmp_path / "c"))
    assert c.meta.get("partition_by") == ["d"]
    assert c.read(eq={"d": datetime.date(2024, 1, 2)}).count() == 3
    c.append(
        spark.createDataFrame(
            [(100, datetime.date(2024, 1, 9), 1)], "k long, d date, ver long"
        )
    )
    assert c.read().count() == 10 and t.read().count() == 9


def test_part_helpers_unit(tmp_path):
    assert _infer_part_type({"1", "-5", "12"}) == "long"
    assert _infer_part_type({"2024-01-01", "2023-12-31"}) == "date"
    assert _infer_part_type({"1", "x"}) == "string"
    assert _infer_part_type(set()) == "string"
    assert _part_scalar_of_dir("7", "long") == 7
    assert _part_scalar_of_dir("2024-01-02", "date") == 19724
    assert _part_scalar_of_dir("a%20b", "string") == "a b"
    assert _part_scalar_of_dir("__HIVE_DEFAULT_PARTITION__", "long") is None
    e = {"part": {"p": 5}}
    assert _part_may_match(e, isin={"p": [5]})
    assert not _part_may_match(e, isin={"p": [6]})
    assert _part_may_match(e, prune={"p": (0, 10)})
    assert not _part_may_match(e, prune={"p": (6, None)})
    # NULL partition matches nothing
    en = {"part": {"p": None}}
    assert not _part_may_match(en, isin={"p": [5]})
    assert not _part_may_match(en, prune={"p": (None, 3)})
    assert _part_may_match(en, prune={"p": (None, None)})
    # incomparable types keep the file
    assert _part_may_match(e, isin={"p": ["x"]})


def test_partitioned_copy_into_and_auto_ingest(spark, tmp_path):
    """Ingestion surfaces compose with partitioning: COPY INTO and the
    auto_ingest file stream land through the ordinary append path, so
    partition directories, per-entry values, and exact pruning all
    apply to ingested batches."""
    t = _mkp(spark, tmp_path, "t", partition_by=("region",))
    land = tmp_path / "land"
    _frame(spark, 12).write.parquet(str(land / "a"))
    _, n = t.copy_into(str(land / "a") + "/*.parquet")
    assert n >= 1 and t.read().count() == 12
    live = _replay_log(t.table_dir).live
    assert all(e.get("part") for e in live.values())
    rep = t.prune_report({}, eq={"region": "eu"})
    assert rep["files_skipped"] > 0
    # auto_ingest drains a landing zone into the same layout
    spark.createDataFrame(
        [(100, "eu", 1, 1), (101, "ap", 2, 1)],
        "k long, region string, v long, ver long",
    ).write.parquet(str(land / "b"))
    q = t.auto_ingest(str(land / "b"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert t.read().count() == 14
    live2 = _replay_log(t.table_dir).live
    assert all(e.get("part") for e in live2.values())
    got = sorted(
        r["k"] for r in t.read(eq={"region": "eu"}).collect()
    )
    assert 100 in got and 101 not in got


def test_show_partitions_log_only(spark, tmp_path):
    """SHOW PARTITIONS answers from the commit log alone: tuples, file
    and exact row counts, DV-adjusted, nulls listed, unpartitioned
    tables refused — and the txsql surface serves it."""
    from kafka_flink_harshevents_spark.sources.txsql import txsql

    t = _mkp(spark, tmp_path, "t", partition_by=("region",))
    t.append(_frame(spark, 30))
    t.delete_where("k = 0", mode="merge_on_read")  # one eu row via DV
    listed = t.show_partitions().collect()
    rows = {
        r["region"]: (r["n_files"], r["n_rows"], r["n_bytes"])
        for r in listed
    }
    assert set(rows) == {"eu", "us", "ap"}
    assert rows["eu"][1] == 9 and rows["us"][1] == 10  # DV subtracted
    assert all(n_f == 2 for n_f, _, _ in rows.values())
    # n_bytes: exact physical bytes per partition (skew detection) —
    # positive, and summing to the live files' total
    live = _replay_log(t.table_dir).live
    assert all(b > 0 for _, _, b in rows.values())
    assert sum(b for _, _, b in rows.values()) == sum(
        e["bytes"] for e in live.values()
    )
    # deterministic ordering: ascending partition values
    assert [r["region"] for r in listed] == ["ap", "eu", "us"]
    # SQL surface + int-typed partition values come back as scalars
    t2 = _mkp(spark, tmp_path, "t2", partition_by=("day",))
    t2.append(spark.createDataFrame(
        [(1, 5, 1, 1), (2, None, 2, 1)],
        "k long, day long, v long, ver long",
    ))
    got = {
        r["day"]: r["n_rows"]
        for r in txsql(spark, "SHOW PARTITIONS t2",
                       tables={"t2": t2}).collect()
    }
    assert got == {"5": 1, None: 1}
    t3 = TxTable.create(
        spark, str(tmp_path / "t3"), key_cols=("k",), order_col="ver",
    )
    with pytest.raises(ValueError, match="not partitioned"):
        t3.show_partitions()


def test_optimize_where_partition_scope(spark, tmp_path):
    """Delta's OPTIMIZE ... WHERE: a maintenance rewrite scoped to
    matching partitions — out-of-scope files (and their deletion
    vectors) carry forward byte-for-byte; non-partition predicates are
    refused; typed predicates (dates) evaluate with real SQL
    semantics; the txsql surface parses both forms."""
    from kafka_flink_harshevents_spark.sources.txsql import txsql

    t = _mkp(spark, tmp_path, "t", partition_by=("region",))
    for _ in range(3):  # fragment every partition
        t.append(_frame(spark, 30))
    t.delete_where("k = 1 and region = 'us'", mode="merge_on_read")
    _, live0, _, dvs0, *_ = _replay_log(t.table_dir)
    eu_before = {
        p for p, e in live0.items() if e["part"]["region"] == "eu"
    }
    us_before = {
        p for p, e in live0.items() if e["part"]["region"] == "us"
    }
    assert dvs0  # the us DV is live
    t.compact(where="region = 'eu'")
    _, live1, _, dvs1, *_ = _replay_log(t.table_dir)
    eu_after = {
        p for p, e in live1.items() if e["part"]["region"] == "eu"
    }
    us_after = {
        p for p, e in live1.items() if e["part"]["region"] == "us"
    }
    assert eu_after.isdisjoint(eu_before)  # eu rewritten
    assert us_after == us_before           # us untouched byte-for-byte
    assert dvs1                            # its DV still applies
    assert t.read().count() == 30 * 3 - 3  # multiset preserved
    assert sorted(
        r["k"] for r in t.read(eq={"region": "us"}).distinct().collect()
    ) == [k for k in range(30) if k % 3 == 1 and k != 1]
    # non-partition predicate refused; unpartitioned table refused
    with pytest.raises(ValueError, match="non-partition"):
        t.compact(where="v > 5")
    t2 = TxTable.create(
        spark, str(tmp_path / "flat"), key_cols=("k",), order_col="ver",
    )
    t2.append(spark.createDataFrame([(1, 1)], "k long, ver long"))
    with pytest.raises(ValueError, match="partitioned table"):
        t2.compact(where="k = 1")
    # txsql forms + scoped zorder
    txsql(spark, "OPTIMIZE t WHERE region = 'us'", tables={"t": t})
    _, live2, _, dvs2, *_ = _replay_log(t.table_dir)
    assert not dvs2  # the scoped compact materialized the us DV
    txsql(spark, "OPTIMIZE t WHERE region = 'ap' ZORDER BY (v)",
          tables={"t": t})
    assert t.read().count() == 30 * 3 - 3
    # date-typed scope
    import datetime as _dt

    t3 = _mkp(spark, tmp_path, "t3", partition_by=("d",))
    t3.append(spark.createDataFrame(
        [(k, _dt.date(2024, 1, 1 + k % 2), 1) for k in range(8)],
        "k long, d date, ver long"))
    t3.append(spark.createDataFrame(
        [(k + 10, _dt.date(2024, 1, 1 + k % 2), 1) for k in range(8)],
        "k long, d date, ver long"))
    l0 = _replay_log(t3.table_dir).live
    t3.compact(where="d = DATE'2024-01-02'")
    l1 = _replay_log(t3.table_dir).live
    kept = {p for p in l0 if p in l1}
    assert kept and all(
        l1[p]["part"]["d"] == 19723 for p in kept  # 2024-01-01 untouched
    )
    assert t3.read().count() == 16


def test_partitioned_table_streams_appends(spark, tmp_path):
    """The txlog stream source serves partitioned commits unchanged:
    partition values live IN the data files, so the per-file Arrow
    reader needs no fill and each commit's files stream with their
    columns intact."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
    )

    spark.dataSource.register(TxLogStreamSource)
    t = _mkp(spark, tmp_path, "t", partition_by=("region",))
    t.append(_frame(spark, 6))
    got: list = []

    def sink(bdf, _bid):
        got.extend(
            (r["k"], r["region"], r["_commit_version"])
            for r in bdf.collect()
        )

    q = (
        spark.readStream.format("txlog")
        .option("tabledir", t.table_dir)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(k for k, _, _ in got) == list(range(6))
    assert all(r == ["eu", "us", "ap"][k % 3] for k, r, _ in got)
