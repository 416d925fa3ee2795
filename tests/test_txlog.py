"""Transactional table layer (sources/txlog.py) — the ACID MERGE
upgrade of the K4 update-by-id sink (kafkaConsumer.js:304-318).

What must hold: snapshot isolation (readers never see a torn table),
atomic commits with optimistic concurrency (exactly one winner per
version), time travel, exactly-once micro-batch replay, crash-orphan
tolerance, and the Delta-style rewrite-granularity guarantee (untouched
buckets carry their files forward byte-for-byte)."""

from __future__ import annotations

import datetime
import json
import os

import pytest

from kafka_flink_harshevents_spark.sources.txlog import (
    ConcurrentWriteError,
    TxTable,
    _atomic_commit,
    _list_versions,
    _read_record,
)


def _mk(spark, tmp_path, n_buckets=8) -> TxTable:
    return TxTable.create(
        spark, str(tmp_path / "table"), key_cols=("k",), order_col="ver",
        n_buckets=n_buckets,
    )


def _rows(t: TxTable, version=None):
    return {
        r["k"]: (r["v"], r["ver"]) for r in t.read(version=version).collect()
    }


def test_merge_latest_per_key_and_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v2 = t.merge_upsert(
        spark.createDataFrame(
            [("a", 1, 1), ("b", 10, 1), ("c", 100, 1)], "k string, v long, ver long"
        )
    )
    v3 = t.merge_upsert(
        spark.createDataFrame(
            [("a", 2, 2), ("d", 1000, 1)], "k string, v long, ver long"
        )
    )
    assert (v2, v3) == (2, 3)
    # latest snapshot: a updated in place, others intact
    assert _rows(t) == {"a": (2, 2), "b": (10, 1), "c": (100, 1), "d": (1000, 1)}
    # time travel: version 2 predates the update
    assert _rows(t, version=2) == {"a": (1, 1), "b": (10, 1), "c": (100, 1)}
    # the internal bucket column never leaks into the user snapshot
    assert "_bucket" not in t.read().columns


def test_stale_order_col_loses(spark, tmp_path):
    """MERGE is latest-wins on order_col, not last-write-wins: an
    out-of-order replay carrying an OLDER version must not clobber."""
    t = _mk(spark, tmp_path)
    t.merge_upsert(spark.createDataFrame([("a", 5, 5)], "k string, v long, ver long"))
    t.merge_upsert(spark.createDataFrame([("a", 3, 3)], "k string, v long, ver long"))
    assert _rows(t) == {"a": (5, 5)}


def test_untouched_buckets_carry_files_forward(spark, tmp_path):
    """The rewrite unit is the touched bucket: a merge that hits one
    bucket must reference every other bucket's existing files unchanged
    (same relative paths — no rewrite, no copy)."""
    t = _mk(spark, tmp_path, n_buckets=8)
    t.merge_upsert(
        spark.createDataFrame(
            [(f"k{i}", i, 1) for i in range(64)], "k string, v long, ver long"
        )
    )
    _, live_before, _ = t._snapshot()
    t.merge_upsert(spark.createDataFrame([("k0", -1, 2)], "k string, v long, ver long"))
    _, live_after, _ = t._snapshot()
    before = {e["path"]: e["bucket"] for e in live_before}
    after = {e["path"]: e["bucket"] for e in live_after}
    touched = {b for p, b in before.items() if p not in after}
    assert len(touched) == 1  # exactly one bucket rewritten
    carried = {p for p in before if p in after}
    assert carried == {p for p, b in before.items() if b not in touched}
    assert _rows(t)["k0"] == (-1, 2)


def test_atomic_commit_one_winner(spark, tmp_path):
    t = _mk(spark, tmp_path)
    _atomic_commit(t.table_dir, 2, {"version": 2, "op": "noop", "add": [], "remove": []})
    with pytest.raises(ConcurrentWriteError):
        _atomic_commit(
            t.table_dir, 2, {"version": 2, "op": "noop", "add": [], "remove": []}
        )
    # the loser's tmp file must not linger in the log dir
    assert not [
        p for p in os.listdir(os.path.join(t.table_dir, "_txlog"))
        if p.startswith(".tmp-")
    ]


def test_merge_retries_past_concurrent_writer(spark, tmp_path):
    """Optimistic concurrency: if another writer claims V+1 between the
    snapshot and the commit, merge_upsert recomputes against the new
    snapshot and lands at V+2 — no lost update, no torn state."""
    t = _mk(spark, tmp_path)
    t.merge_upsert(spark.createDataFrame([("a", 1, 1)], "k string, v long, ver long"))
    # simulate a concurrent writer winning version 3 with a real update
    other = TxTable(spark, t.table_dir)
    other.merge_upsert(
        spark.createDataFrame([("b", 10, 1)], "k string, v long, ver long")
    )
    assert t.latest_version() == 3
    v = t.merge_upsert(spark.createDataFrame([("c", 100, 1)], "k string, v long, ver long"))
    assert v == 4
    assert _rows(t) == {"a": (1, 1), "b": (10, 1), "c": (100, 1)}


def test_upsert_sink_replay_is_noop(spark, tmp_path):
    """T5/T6 exactly-once: checkpoint recovery re-delivers the last
    micro-batch; the txn marker turns the replay into a no-op commit."""
    t = _mk(spark, tmp_path)
    sink = t.upsert_sink(app_id="app1")
    b5 = spark.createDataFrame([("a", 1, 1)], "k string, v long, ver long")
    sink(b5, 5)
    v_after = t.latest_version()
    sink(b5, 5)  # replayed batch
    sink(b5, 4)  # even older replay
    assert t.latest_version() == v_after  # no new commit
    sink(spark.createDataFrame([("a", 2, 2)], "k string, v long, ver long"), 6)
    assert _rows(t) == {"a": (2, 2)}
    assert t.last_committed_batch("app1") == 6
    assert t.last_committed_batch("other-app") == -1


def test_orphans_invisible_and_vacuumed(spark, tmp_path):
    """A writer that crashes before commit leaves a staged dir and a tmp
    log file; readers never see them and vacuum reclaims them while
    keeping every file the retained snapshots reference."""
    t = _mk(spark, tmp_path)
    t.merge_upsert(
        spark.createDataFrame(
            [(f"k{i}", i, 1) for i in range(16)], "k string, v long, ver long"
        )
    )
    # fake a crashed writer: staged data never committed + tmp record
    orphan_dir = os.path.join(t.table_dir, "_staged-deadbeef", "_pb=0")
    os.makedirs(orphan_dir)
    spark.createDataFrame([("zz", 999, 9)], "k string, v long, ver long").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(t.table_dir, "_staged-tmpwrite"))
    # move one real parquet file into the orphan layout
    src = [
        p
        for p in os.listdir(os.path.join(t.table_dir, "_staged-tmpwrite"))
        if p.endswith(".parquet")
    ][0]
    os.rename(
        os.path.join(t.table_dir, "_staged-tmpwrite", src),
        os.path.join(orphan_dir, "part-orphan.parquet"),
    )
    with open(os.path.join(t.table_dir, "_txlog", ".tmp-crashed"), "w") as f:
        json.dump({"half": "written"}, f)
    # vacuum only reclaims STALE artifacts (an in-flight writer holds
    # fresh ones); backdate the crash artifacts past the 1 h guard —
    # the never-committed staged file gets the same retention window
    os.utime(os.path.join(t.table_dir, "_txlog", ".tmp-crashed"), (0, 0))
    os.utime(os.path.join(orphan_dir, "part-orphan.parquet"), (0, 0))
    os.utime(os.path.dirname(orphan_dir), (0, 0))

    snap = _rows(t)
    assert "zz" not in snap and len(snap) == 16  # orphan invisible

    t.merge_upsert(spark.createDataFrame([("k0", -1, 2)], "k string, v long, ver long"))
    deleted = t.vacuum(retain_versions=1)
    assert any("part-orphan.parquet" in p for p in deleted)
    # the superseded bucket file from version 2 is also reclaimed
    assert len(deleted) >= 2
    assert not os.path.exists(os.path.join(t.table_dir, "_txlog", ".tmp-crashed"))
    # latest snapshot unharmed
    after = _rows(t)
    assert after["k0"] == (-1, 2) and len(after) == 16


def test_empty_table_reads_with_schema(spark, tmp_path):
    t = _mk(spark, tmp_path)
    # version 1 is the bare create record: no schema recorded yet -> error
    with pytest.raises(ValueError):
        t.read()
    t.merge_upsert(spark.createDataFrame([("a", 1, 1)], "k string, v long, ver long"))
    assert set(t.read().columns) == {"k", "v", "ver"}


def test_streaming_end_to_end_exactly_once(spark, tmp_path):
    """Full Structured Streaming path: file stream → foreachBatch
    transactional MERGE; the table converges to latest-per-key and the
    log shows one commit per non-empty micro-batch."""
    import uuid as _uuid

    src = tmp_path / "src"
    src.mkdir()
    t = _mk(spark, tmp_path)

    def write(name, rows):
        with open(src / name, "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")

    stream = spark.readStream.schema("k STRING, v LONG, ver LONG").json(str(src))
    q = (
        stream.writeStream.foreachBatch(t.upsert_sink(app_id="e2e"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .queryName(f"tx_{_uuid.uuid4().hex[:8]}")
        .start()
    )
    try:
        write("w1.jsonl", [{"k": "a", "v": 1, "ver": 1}, {"k": "b", "v": 10, "ver": 1}])
        q.processAllAvailable()
        write("w2.jsonl", [{"k": "a", "v": 2, "ver": 2}, {"k": "c", "v": 100, "ver": 1}])
        q.processAllAvailable()
    finally:
        q.stop()
    assert _rows(t) == {"a": (2, 2), "b": (10, 1), "c": (100, 1)}
    commits = [v for v in _list_versions(t.table_dir)]
    assert commits == [1, 2, 3]  # create + two micro-batches


def test_append_then_compact_preserves_multiset(spark, tmp_path):
    """append = transactional blind insert (K3): duplicate keys allowed,
    files accumulate; compact = layout-only rewrite to one file per
    bucket — the row MULTISET is byte-identical before and after, and
    pre-compaction versions still read the old layout."""
    t = _mk(spark, tmp_path, n_buckets=4)
    df1 = spark.createDataFrame(
        [("a", 1, 1), ("b", 2, 1)], "k string, v long, ver long"
    )
    df2 = spark.createDataFrame(
        [("a", 9, 2), ("c", 3, 1)], "k string, v long, ver long"
    )
    v2 = t.append(df1)
    v3 = t.append(df2)
    assert (v2, v3) == (2, 3)

    def multiset(version=None):
        return sorted(
            (r["k"], r["v"], r["ver"]) for r in t.read(version=version).collect()
        )

    before = multiset()
    assert before == [("a", 1, 1), ("a", 9, 2), ("b", 2, 1), ("c", 3, 1)]
    _, live_before, _ = t._snapshot()
    # key "a" hashes to one bucket: two appends -> two files there
    from collections import Counter
    per_bucket = Counter(e["bucket"] for e in live_before)
    assert max(per_bucket.values()) >= 2

    v4 = t.compact()
    assert v4 == 4
    assert multiset() == before  # layout-only
    _, live_after, _ = t._snapshot()
    assert Counter(e["bucket"] for e in live_after) == {
        b: 1 for b in per_bucket
    }  # one file per touched bucket
    assert multiset(version=3) == before  # time travel pre-compaction

    # merge after appends collapses to latest-per-key over everything
    t.merge_upsert(spark.createDataFrame([("b", 7, 2)], "k string, v long, ver long"))
    latest = {r["k"]: (r["v"], r["ver"]) for r in t.read().collect()}
    assert latest == {"a": (9, 2), "b": (7, 2), "c": (3, 1)}


def test_append_replay_is_noop_with_txn(spark, tmp_path):
    t = _mk(spark, tmp_path)
    df = spark.createDataFrame([("a", 1, 1)], "k string, v long, ver long")
    t.append(df, txn={"app_id": "ap", "batch_id": 7})
    assert t.last_committed_batch("ap") == 7


def test_table_changes_feed(spark, tmp_path):
    """Change-data-feed (the Delta CDF contract): per-commit row-level
    diffs derived from the commit's own pre/post-image files — inserts
    classified, updates emitting BOTH update_preimage and
    update_postimage rows, unchanged carried rows absent, append
    commits pure inserts, compaction an empty feed; replaying the feeds
    in order reconstructs the keyed snapshot exactly."""
    t = _mk(spark, tmp_path, n_buckets=2)  # few buckets -> carried rows exist
    v2 = t.merge_upsert(
        spark.createDataFrame(
            [("a", 1, 1), ("b", 10, 1), ("c", 100, 1)], "k string, v long, ver long"
        )
    )
    v3 = t.merge_upsert(
        spark.createDataFrame([("a", 2, 2), ("d", 7, 1)], "k string, v long, ver long")
    )

    def feed(v):
        return sorted(
            (r["k"], r["v"], r["ver"], r["_change_type"])
            for r in t.table_changes(v).collect()
        )

    assert feed(v2) == [("a", 1, 1, "insert"), ("b", 10, 1, "insert"),
                        ("c", 100, 1, "insert")]
    f3 = feed(v3)
    assert ("a", 1, 1, "update_preimage") in f3
    assert ("a", 2, 2, "update_postimage") in f3
    assert ("d", 7, 1, "insert") in f3
    # b / c were only carried — never in the feed
    assert not [r for r in f3 if r[0] in ("b", "c")]
    assert len(f3) == 3

    # replay the feeds in order -> exactly the latest snapshot
    replica: dict = {}
    for v in (v2, v3):
        for k, val, ver, ct in feed(v):
            if ct in ("delete", "update_preimage"):
                replica.pop(k, None)
            else:
                replica[k] = (val, ver)
    assert replica == _rows(t)

    v4 = t.append(spark.createDataFrame([("a", 9, 9)], "k string, v long, ver long"))
    f4 = {
        (r["k"], r["v"], r["_change_type"]) for r in t.table_changes(v4).collect()
    }
    assert f4 == {("a", 9, "insert")}  # append = pure insert, no pre-image

    v5 = t.compact()
    assert t.table_changes(v5).count() == 0  # layout-only
    assert t.table_changes(1).count() == 0  # create record


def test_cdf_fed_view_maintenance_matches_recompute(spark, tmp_path):
    """The full composition: TxTable commits → change feed → signed
    partial deltas → merged view state. After EVERY commit (inserts,
    then an update batch that changes measures), finalizing the
    maintained state equals recomputing the Q1 aggregate from the
    table snapshot — exact, because retraction happens in the same
    integer partial space as addition."""
    from kafka_flink_harshevents_spark.operators.ivm import q1_apply_changes
    from kafka_flink_harshevents_spark.queries.relational import (
        q1_finalize,
        q1_partial_state,
    )

    schema = (
        "l_orderkey long, l_linenumber long, ver long, l_returnflag string,"
        " l_linestatus string, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double"
    )
    t = TxTable.create(
        spark, str(tmp_path / "li"), key_cols=("l_orderkey", "l_linenumber"),
        order_col="ver", n_buckets=4,
    )

    def rows(base, n, flag, ver=1, qmul=1.0):
        return [
            (base + i, 1, ver, flag, "O", 10.0 * qmul + i, 1000.0 + 7 * i,
             0.05, 0.02)
            for i in range(n)
        ]

    b1 = spark.createDataFrame(rows(0, 20, "N") + rows(100, 15, "R"), schema)
    b2 = spark.createDataFrame(
        rows(200, 10, "A") + rows(0, 5, "N", ver=2, qmul=3.0),  # 5 updates
        schema,
    )
    state = None
    for batch in (b1, b2):
        v = t.merge_upsert(batch)
        state = q1_apply_changes(state, t.table_changes(v)).localCheckpoint()
        maintained = {
            tuple(r[k] for k in ("l_returnflag", "l_linestatus")): tuple(r)
            for r in q1_finalize(state).collect()
        }
        recomputed = {
            tuple(r[k] for k in ("l_returnflag", "l_linestatus")): tuple(r)
            for r in q1_finalize(q1_partial_state(t.read())).collect()
        }
        assert maintained == recomputed and len(maintained) >= 2


from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

# op = list of key indices to merge (None = compact). vers strictly
# increase globally, so latest-wins is never decided by a tie.
_ops = st.lists(
    st.one_of(
        st.lists(st.integers(0, 9), min_size=1, max_size=5, unique=True),
        st.none(),
    ),
    min_size=1,
    max_size=6,
)


@given(ops=_ops)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_txlog_model_property(spark, tmp_path_factory, ops):
    """Model-based property: any sequence of merges (random key
    subsets, strictly increasing versions) and compactions keeps (a)
    the latest snapshot equal to a dict model after EVERY op, and (b)
    every historical version readable and equal to its recorded model
    state at the end (time travel over the whole log)."""
    tmp = tmp_path_factory.mktemp("txprop")
    t = TxTable.create(
        spark, str(tmp / "t"), key_cols=("k",), order_col="ver", n_buckets=4
    )
    model: dict[str, tuple[int, int]] = {}
    history: dict[int, dict] = {}
    ver = 0
    schema_known = False  # a pre-data table has no recorded read schema
    for op in ops:
        if op is None:
            v = t.compact()
        else:
            rows = []
            for ki in op:
                ver += 1
                rows.append((f"k{ki}", ki * 1000 + ver, ver))
                model[f"k{ki}"] = (ki * 1000 + ver, ver)
            v = t.merge_upsert(
                spark.createDataFrame(rows, "k string, v long, ver long")
            )
            schema_known = True
        if schema_known:
            history[v] = dict(model)
            assert _rows(t) == model  # latest snapshot after every commit
    for v, snap in history.items():
        assert _rows(t, version=v) == snap  # full-history time travel


# schema-evolution ops: merge random keys / rename a data column /
# drop a data column / restore to a random earlier version. Fresh
# rename targets come from an unbounded counter so the generator never
# trips the retired-name or collision guards it isn't trying to test.
_evo_ops = st.lists(
    st.one_of(
        st.tuples(st.just("merge"),
                  st.lists(st.integers(0, 7), min_size=1, max_size=4,
                           unique=True)),
        st.tuples(st.just("rename"), st.integers(0, 9)),
        st.tuples(st.just("drop"), st.integers(0, 9)),
        st.tuples(st.just("restore"), st.integers(0, 9)),
    ),
    min_size=2,
    max_size=7,
)


@given(ops=_evo_ops)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_schema_evolution_model_property(spark, tmp_path_factory, ops):
    """Model-based property over the SCHEMA-EVOLUTION surface: any
    interleaving of merges, column renames (column mapping), column
    drops (metadata-only), and restores keeps the read state equal to
    a plain dict/schema model after every commit — column values must
    follow their column through renames, vanish through drops, and
    come back through restores (which also revert the mapping/retired
    meta, or later writes would break)."""
    import copy

    tmp = tmp_path_factory.mktemp("txevo")
    t = TxTable.create(
        spark, str(tmp / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    cols = ["c0", "c1"]  # current logical data columns
    model: dict[int, dict] = {}  # key -> {col: value}
    ver = 0
    next_name = 0
    history: list[tuple[int, list, dict]] = []  # (version, cols, model)
    # seed so every later op has data and a recorded schema
    ver += 1
    seed = [(0, 100, 200, ver)]
    v = t.merge_upsert(spark.createDataFrame(
        seed, "k long, c0 long, c1 long, ver long"))
    model[0] = {"c0": 100, "c1": 200}
    history.append((v, list(cols), copy.deepcopy(model)))

    def check():
        assert set(t.read().columns) == {"k", "ver", *cols}
        got = {
            r["k"]: {c: r[c] for c in cols} for r in t.read().collect()
        }
        assert got == model, (cols, got, model)

    for op in ops:
        kind = op[0]
        if kind == "merge":
            rows = []
            for ki in op[1]:
                ver += 1
                vals = {c: ki * 1000 + ver + j for j, c in enumerate(cols)}
                rows.append((ki, *[vals[c] for c in cols], ver))
                model[ki] = vals
            schema = ", ".join(
                ["k long"] + [f"{c} long" for c in cols] + ["ver long"]
            )
            v = t.merge_upsert(spark.createDataFrame(rows, schema))
        elif kind == "rename":
            if not cols:
                continue
            old = cols[op[1] % len(cols)]
            new = f"n{next_name}"
            next_name += 1
            v = t.rename_column(old, new)
            cols[cols.index(old)] = new
            for row in model.values():
                row[new] = row.pop(old)
        elif kind == "drop":
            if len(cols) < 2:
                continue  # keep at least one data col interesting
            gone = cols[op[1] % len(cols)]
            v = t.drop_columns((gone,))
            cols.remove(gone)
            for row in model.values():
                row.pop(gone, None)
        else:  # restore
            tv, tcols, tmodel = history[op[1] % len(history)]
            v = t.restore(tv)
            cols = list(tcols)
            model = copy.deepcopy(tmodel)
        history.append((v, list(cols), copy.deepcopy(model)))
        check()
    # the table stays writable whatever the evolution path was
    ver += 1
    rows = [(99, *[9000 + j for j in range(len(cols))], ver)]
    schema = ", ".join(
        ["k long"] + [f"{c} long" for c in cols] + ["ver long"]
    )
    t.merge_upsert(spark.createDataFrame(rows, schema))
    model[99] = {c: 9000 + j for j, c in enumerate(cols)}
    check()


# concurrent DATA-op stress model: two threads each run a random
# program of merge_into / append / delete_where / replace_where /
# compact against ONE table; OCC must serialize them — the final
# table equals the ops applied in COMMIT-VERSION order to a dict
# model, and every loser's retry converges. (The r05-r07 race bugs —
# append schema-race, drop_columns stale retry, rebucket restage —
# were each found one at a time; this hunts the class.)
_conc_op = st.one_of(
    st.tuples(st.just("merge"),
              st.lists(st.integers(0, 19), min_size=1, max_size=4,
                       unique=True)),
    st.tuples(st.just("append"), st.integers(1, 3)),
    st.tuples(st.just("delete"), st.sampled_from([2, 3, 5, 7])),
    st.tuples(st.just("replace"), st.sampled_from([3, 4, 5])),
    st.tuples(st.just("compact"), st.none()),
)
_conc_programs = st.tuples(
    st.lists(_conc_op, min_size=1, max_size=3),
    st.lists(_conc_op, min_size=1, max_size=3),
)


@given(programs=_conc_programs)
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_concurrent_data_ops_serialize_property(
    spark, tmp_path_factory, programs
):
    """OCC linearizability over the DATA-mutation surface: whatever
    interleaving two concurrent threads produce, the committed history
    has unique versions, every op converges within its retry budget,
    and replaying the ops in commit-version order through a plain dict
    model reproduces both the final table AND each unambiguous
    intermediate snapshot (time travel)."""
    import threading

    from pyspark import InheritableThread

    tmp = tmp_path_factory.mktemp("txconc")
    t = TxTable.create(
        spark, str(tmp / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    seed_rows = [(k, k * 10, 1) for k in range(20)]
    v_seed = t.append(spark.createDataFrame(
        seed_rows, "k long, v long, ver long"))
    lock = threading.Lock()
    ctr = {"ver": 1, "key": 1000}
    committed: list[tuple[int, int, str, object]] = []  # (v, seq, kind, payload)
    errs: list = []
    seq_ctr = {"n": 0}

    def fresh(n_keys: int) -> list[tuple[int, int, int]]:
        with lock:
            rows = []
            for _ in range(n_keys):
                ctr["ver"] += 1
                ctr["key"] += 1
                rows.append((ctr["key"], ctr["key"] * 7, ctr["ver"]))
            return rows

    def vals(keys: list[int]) -> list[tuple[int, int, int]]:
        with lock:
            rows = []
            for k in keys:
                ctr["ver"] += 1
                rows.append((k, k * 100 + ctr["ver"], ctr["ver"]))
            return rows

    def record(v: int, kind: str, payload) -> None:
        with lock:
            seq_ctr["n"] += 1
            committed.append((v, seq_ctr["n"], kind, payload))

    def run(ops) -> None:
        try:
            spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(  # noqa: E501
                spark._jsparkSession
            )
            for kind, arg in ops:
                if kind == "merge":
                    rows = vals(arg)
                    v = t.merge_into(
                        spark.createDataFrame(
                            rows, "k long, v long, ver long"),
                        max_retries=25,
                    )
                    record(v, kind, rows)
                elif kind == "append":
                    rows = fresh(arg)
                    v = t.append(
                        spark.createDataFrame(
                            rows, "k long, v long, ver long"),
                        max_retries=25,
                    )
                    record(v, kind, rows)
                elif kind == "delete":
                    v, _n = t.delete_where(
                        f"k % {arg} = 0", max_retries=25)
                    record(v, kind, arg)
                elif kind == "replace":
                    rows = vals([arg, 2 * arg, 3 * arg])
                    v = t.replace_where(
                        spark.createDataFrame(
                            rows, "k long, v long, ver long"),
                        f"k % {arg} = 0",
                        max_retries=25,
                    )
                    record(v, kind, (arg, rows))
                else:
                    v = t.compact(max_retries=25)
                    record(v, kind, None)
        except Exception as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    threads = [InheritableThread(target=run, args=(p,)) for p in programs]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs

    def apply(model: dict, kind: str, payload) -> None:
        if kind in ("merge", "append"):
            for k, v, ver in payload:
                model[k] = (v, ver)
        elif kind == "delete":
            for k in [k for k in model if k % payload == 0]:
                del model[k]
        elif kind == "replace":
            m, rows = payload
            for k in [k for k in model if k % m == 0]:
                del model[k]
            for k, v, ver in rows:
                model[k] = (v, ver)
        # compact: layout-only

    # ops that COMMITTED claim unique versions; a no-op return (e.g. a
    # delete matching nothing, a compact with nothing fragmented)
    # reuses the base version and is order-independent by construction
    # (no-op in the table ⟺ no-op in the model when the invariant
    # holds), so sorting by (version, arrival) is a serialization
    model: dict[int, tuple[int, int]] = {
        k: (v, ver) for k, v, ver in seed_rows
    }
    snapshots: dict[int, dict] = {}
    claims: dict[int, int] = {}
    for v, _seq, kind, payload in sorted(committed):
        apply(model, kind, payload)
        snapshots[v] = dict(model)
        claims[v] = claims.get(v, 0) + 1
    assert _rows(t) == model, (committed, model)
    for v, snap in snapshots.items():
        if claims[v] == 1 and v > v_seed:
            assert _rows(t, version=v) == snap, (v, committed)


def test_table_changes_multiset_exact_over_append_duplicates(spark, tmp_path):
    """The CDF multiset contract: when a merge's pre-image holds
    DUPLICATE keys (appended copies), the feed is the exact multiset
    delta — highest-order pre row pairs with the post row, every other
    duplicate is a plain delete, and nothing double-counts. Verified by
    signed-replay: Σ feed == snapshot_after − snapshot_before."""
    from collections import Counter

    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [("a", 1, 1), ("b", 10, 1)], "k string, v long, ver long"))
    t.append(spark.createDataFrame(
        [("a", 9, 9), ("c", 5, 1)], "k string, v long, ver long"))

    def multiset(version):
        return Counter(
            (r["k"], r["v"], r["ver"]) for r in t.read(version=version).collect()
        )

    before = multiset(t.latest_version())
    v = t.merge_upsert(
        spark.createDataFrame([("b", 11, 2)], "k string, v long, ver long")
    )
    after = multiset(v)

    delta = Counter()
    for r in t.table_changes(v).collect():
        sign = 1 if r["_change_type"] in ("insert", "update_postimage") else -1
        delta[(r["k"], r["v"], r["ver"])] += sign
    want = Counter(after)
    want.subtract(before)
    assert {k: c for k, c in delta.items() if c} == {
        k: c for k, c in want.items() if c
    }
    # the duplicate 'a' rows collapse: feed must retract exactly ONE
    # copy of ("a",1,1) iff a's bucket was touched, never ("a",9,9)
    assert delta.get(("a", 9, 9), 0) >= 0


def test_file_stats_recorded_on_commit(spark, tmp_path):
    """Every staged file's add-entry carries footer-derived stats
    (rows + per-column [min, max, null_count]) — the raw material for
    data skipping, collected without a second data scan."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [("a", 1, 10), ("b", 2, 20)], "k string, v long, ver long"))
    _, live, _ = t._snapshot()
    assert live
    for e in live:
        st = e["stats"]
        assert st["rows"] >= 1
        assert "_bucket" not in st["cols"]  # internal layout col excluded
        vmin, vmax, nulls = st["cols"]["v"]
        assert vmin is not None and vmin <= vmax
        assert nulls == 0


def test_pruned_read_exact_and_skips_files(spark, tmp_path):
    """Time-range pruning over an append-only log: waves with disjoint
    `ver` ranges land in files whose [min, max] don't overlap, so a
    range read opens only the matching wave's files — and still returns
    EXACTLY the rows a full-scan filter would."""
    t = _mk(spark, tmp_path, n_buckets=2)
    # three "days" of appends, 100 rows each, disjoint ver ranges
    for day in range(3):
        t.append(spark.createDataFrame(
            [(f"k{day}_{i}", i, day * 1000 + i) for i in range(100)],
            "k string, v long, ver long",
        ))
    prune = {"ver": (2000, 2999)}  # only day 2
    got = sorted(
        (r["k"], r["v"], r["ver"]) for r in t.read(prune=prune).collect()
    )
    want = sorted(
        (r["k"], r["v"], r["ver"])
        for r in t.read().filter("ver BETWEEN 2000 AND 2999").collect()
    )
    assert got == want and len(got) == 100
    rep = t.prune_report(prune)
    # day 0 and day 1 files are provably outside the range
    assert rep["files_skipped"] >= rep["files_total"] // 2
    assert rep["files_read"] + rep["files_skipped"] == rep["files_total"]
    assert rep["rows_skipped"] == 200
    # open-ended bound + string-keyed prune both stay exact
    got_open = {r["ver"] for r in t.read(prune={"ver": (2000, None)}).collect()}
    assert got_open == {2000 + i for i in range(100)}
    assert t.read(prune={"k": ("k9", None)}).count() == 0


def test_prune_missing_stats_keeps_file(spark, tmp_path):
    """A file committed without stats (older writer, unreadable footer)
    must never be skipped — missing stats cost opportunity, not rows."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(spark.createDataFrame([("a", 1, 1)], "k string, v long, ver long"))
    # simulate a stats-less legacy entry by rewriting the commit record
    v = t.latest_version()
    from kafka_flink_harshevents_spark.sources.txlog import _version_path
    p = _version_path(t.table_dir, v)
    rec = json.loads(open(p).read())
    for e in rec["add"]:
        e.pop("stats", None)
    os.unlink(p)
    with open(p, "w") as f:
        json.dump(rec, f)
    assert t.read(prune={"ver": (100, 200)}).count() == 0  # filter still exact
    rep = t.prune_report({"ver": (100, 200)})
    assert rep["files_skipped"] == 0 and rep["rows_skipped"] == 0


def test_schema_evolution_add_column(spark, tmp_path):
    """Delta-style mergeSchema: a merge carrying a new column widens the
    table; untouched old files NULL-fill at read time; time travel
    still shows the pre-evolution schema; the default (no flag) fails
    fast instead of forking the schema."""
    t = _mk(spark, tmp_path, n_buckets=4)
    v_old = t.merge_upsert(spark.createDataFrame(
        [(f"k{i}", i, 1) for i in range(16)], "k string, v long, ver long"))
    wide = spark.createDataFrame(
        [("k0", 99, 2, "x")], "k string, v long, ver long, extra string")
    with pytest.raises(Exception):
        t.merge_upsert(wide)  # no flag → refuse
    v_new = t.merge_upsert(wide, merge_schema=True)
    snap = t.read()
    assert snap.columns == ["k", "v", "ver", "extra"]
    rows = {r["k"]: (r["v"], r["extra"]) for r in snap.collect()}
    assert rows["k0"] == (99, "x")
    # rows in buckets the evolving merge never touched NULL-fill
    untouched = [kk for kk, (_, e) in rows.items() if e is None]
    assert len(untouched) == 16 - sum(
        1 for kk, (_, e) in rows.items() if e is not None
    )
    # time travel predates the evolution
    assert t.read(version=v_old).columns == ["k", "v", "ver"]
    # CDF: the update's preimage NULL-fills the evolved column
    pre = [r for r in t.table_changes(v_new).collect()
           if r["_change_type"] == "update_preimage"]
    assert pre and pre[0]["extra"] is None and pre[0]["k"] == "k0"


def test_schema_evolution_append_never_narrows(spark, tmp_path):
    """An append with FEWER columns than the table records the WIDENED
    schema (old ∪ new), so the snapshot keeps the evolved column; and a
    same-name type change is refused outright."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [("a", 1, 1, "x")], "k string, v long, ver long, extra string"))
    with pytest.raises(ValueError):
        t.append(spark.createDataFrame([("b", 2, 2)], "k string, v long, ver long"))
    t.append(spark.createDataFrame(
        [("b", 2, 2)], "k string, v long, ver long"), merge_schema=True)
    snap = {r["k"]: r["extra"] for r in t.read().collect()}
    assert snap == {"a": "x", "b": None}
    with pytest.raises(ValueError, match="type change"):
        t.append(spark.createDataFrame(
            [("c", "not-a-long", 3)], "k string, v string, ver long"),
            merge_schema=True)


def test_metadata_aggregate_exact_or_refuse(spark, tmp_path):
    """count(*) / min / max / null-count answered from the commit log
    alone must equal the full-scan aggregates — across appends, a
    MERGE rewrite, and time travel — and must REFUSE (None) rather
    than approximate when a live file carries no stats."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [("a", 1, 1), ("b", None, 2), ("c", 7, 3)],
        "k string, v long, ver long"))
    t.append(spark.createDataFrame(
        [("d", -5, 4), ("e", None, 5)], "k string, v long, ver long"))
    v_before = t.latest_version()
    t.merge_upsert(spark.createDataFrame(
        [("a", 100, 10), ("f", 3, 11)], "k string, v long, ver long"))

    for version in (None, v_before):
        meta = t.metadata_aggregate(("v", "k", "ver"), version=version)
        df = t.read(version=version)
        agg = df.selectExpr(
            "count(*) AS n", "min(v) AS mn", "max(v) AS mx",
            "sum(CAST(v IS NULL AS LONG)) AS nulls",
            "min(k) AS kmn", "max(k) AS kmx",
        ).collect()[0]
        assert meta["rows"] == agg["n"]
        assert meta["cols"]["v"] == {
            "min": agg["mn"], "max": agg["mx"], "null_count": agg["nulls"],
        }
        assert meta["cols"]["k"]["min"] == agg["kmn"]
        assert meta["cols"]["k"]["max"] == agg["kmx"]
        assert meta["cols"]["ver"]["null_count"] == 0

    # a column the log never saw refuses everything
    ghost = t.metadata_aggregate(("nope",))["cols"]["nope"]
    assert ghost == {"min": None, "max": None, "null_count": None}

    # strip stats from one live entry → every answer refuses, none lies
    v = t.latest_version()
    from kafka_flink_harshevents_spark.sources.txlog import _version_path
    p = _version_path(t.table_dir, v)
    rec = json.loads(open(p).read())
    rec["add"][0].pop("stats", None)
    os.unlink(p)
    with open(p, "w") as f:
        json.dump(rec, f)
    meta = t.metadata_aggregate(("v",))
    assert meta["rows"] is None
    assert meta["cols"]["v"] == {"min": None, "max": None, "null_count": None}


def test_metadata_aggregate_all_null_file(spark, tmp_path):
    """An all-NULL file has no min/max stat but a known null count: it
    must not poison the range (it contributes nothing to min/max) and
    the null count stays exact."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(spark.createDataFrame(
        [("a", 5, 1), ("b", 9, 2)], "k string, v long, ver long"))
    t.append(spark.createDataFrame(
        [("c", None, 3), ("d", None, 4)], "k string, v long, ver long"))
    meta = t.metadata_aggregate(("v",))
    assert meta["rows"] == 4
    assert meta["cols"]["v"] == {"min": 5, "max": 9, "null_count": 2}


def test_txlog_stream_source_exactly_once(spark, tmp_path):
    """The table is ALSO a streaming source: committed appends arrive
    as micro-batches stamped with their commit version; checkpoint
    restart resumes from the recorded version with no duplicates;
    compactions stream nothing; a MERGE rewrite is refused unless
    ignorechanges=true (Delta's streaming-source contract)."""
    from pyspark.sql.utils import StreamingQueryException

    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
    )

    spark.dataSource.register(TxLogStreamSource)
    t = _mk(spark, tmp_path)  # version 1 = create
    t.append(spark.createDataFrame(
        [("a", 1, 1), ("b", 2, 1)], "k string, v long, ver long"))  # v2
    ckpt = str(tmp_path / "ckpt")

    def drain(opts=None):
        # memory sink can't recover from a checkpoint; foreachBatch can
        got: set = set()

        def sink(batch_df, _bid):
            got.update(
                (r["k"], r["v"], r["ver"], r["_commit_version"])
                for r in batch_df.collect()
            )

        reader = (
            spark.readStream.format("txlog").option("tabledir", t.table_dir)
        )
        for k_, v_ in (opts or {}).items():
            reader = reader.option(k_, v_)
        q = (
            reader.load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    assert drain() == {("a", 1, 1, 2), ("b", 2, 1, 2)}

    # new append streams exactly the new rows on restart
    t.append(spark.createDataFrame([("c", 3, 2)], "k string, v long, ver long"))  # v3
    assert drain() == {("c", 3, 2, 3)}

    # compaction is data-preserving: nothing to stream
    t.compact()  # v4
    assert drain() == set()

    # a MERGE rewrite refuses by default...
    t.merge_upsert(spark.createDataFrame(
        [("a", 99, 9)], "k string, v long, ver long"))  # v5
    with pytest.raises(StreamingQueryException):
        drain()
    # ...and with ignorechanges the rewritten files stream through,
    # including carried-over rows of the touched bucket (documented
    # dedupe-downstream caveat), all stamped with the merge version
    got = drain({"ignorechanges": "true"})
    assert ("a", 99, 9, 5) in got
    assert all(cv == 5 for (_, _, _, cv) in got)


def test_delete_where_copy_on_write(spark, tmp_path):
    """Row-level DELETE: only files containing matches rewrite (others
    carry forward byte-for-byte), time travel still sees the deleted
    rows, the CDF derives row-level deletes, and log-only aggregation
    stays exact over the rewritten file set."""
    t = _mk(spark, tmp_path, n_buckets=2)
    for day in range(3):
        t.append(spark.createDataFrame(
            [(f"k{day}_{i}", i, day * 1000 + i) for i in range(50)],
            "k string, v long, ver long",
        ))
    _, live_before, _ = t._snapshot()
    v_before = t.latest_version()

    # no-op delete: nothing matches → no commit at all
    v, n = t.delete_where("ver > 999999")
    assert (v, n) == (v_before, 0)

    # delete day-1 rows with even v; prune skips day-0/2 files entirely
    v, n = t.delete_where(
        "ver BETWEEN 1000 AND 1099 AND v % 2 = 0",
        prune={"ver": (1000, 1099)},
    )
    assert v == v_before + 1 and n == 25
    got = sorted(r["ver"] for r in t.read().filter("ver >= 1000 AND ver < 2000").collect())
    assert got == [1000 + i for i in range(50) if i % 2 == 1]
    assert t.read().count() == 125

    # untouched files carried forward byte-for-byte (same paths)
    _, live_after, _ = t._snapshot()
    before_paths = {e["path"] for e in live_before}
    after_paths = {e["path"] for e in live_after}
    day1_touched = before_paths - after_paths
    assert day1_touched and before_paths - day1_touched <= after_paths

    # time travel: the pre-delete snapshot still has all 150 rows
    assert t.read(version=v_before).count() == 150

    # CDF for the delete commit: exactly the 25 deleted rows
    feed = t.table_changes(v).collect()
    deletes = [(r["k"], r["v"], r["ver"]) for r in feed if r["_change_type"] == "delete"]
    assert sorted(v_ for (_, v_, _) in deletes) == sorted(
        i for i in range(50) if i % 2 == 0)
    assert all(r["_change_type"] == "delete" for r in feed)

    # metadata-only aggregate stays exact over the rewritten file set
    meta = t.metadata_aggregate(("ver",))
    assert meta["rows"] == 125
    assert meta["cols"]["ver"]["min"] == 0 and meta["cols"]["ver"]["max"] == 2049

    # delete EVERYTHING in a bucket-file: whole-file removal, no add
    v2, n2 = t.delete_where("ver >= 2000", prune={"ver": (2000, None)})
    assert n2 == 50 and t.read().count() == 75


def test_stream_source_refuses_delete_commit(spark, tmp_path):
    """A DELETE rewrite is not an append: the streaming source must
    refuse its version unless ignorechanges=true (same contract as
    MERGE)."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamReader,
        _table_schema,
    )

    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(spark.createDataFrame(
        [("a", 1, 1), ("b", 2, 2)], "k string, v long, ver long"))
    v, n = t.delete_where("k = 'a'")
    assert n == 1
    schema = _table_schema(t.table_dir)
    rd = TxLogStreamReader({"tabledir": t.table_dir}, schema)
    with pytest.raises(ValueError, match="DELETE rewrite"):
        rd.partitions({"version": v - 1}, {"version": v})
    rd_ok = TxLogStreamReader(
        {"tabledir": t.table_dir, "ignorechanges": "true"}, schema
    )
    parts = rd_ok.partitions({"version": v - 1}, {"version": v})
    # survivor file streams through, stamped with the delete version
    # (read() yields Arrow RecordBatches in declared-schema order)
    rows = [
        tuple(r.values())
        for p in parts
        for b in rd_ok.read(p)
        for r in b.to_pylist()
    ]
    assert rows == [("b", 2, 2, v)]


def test_stream_serves_insert_only_merge_as_append(spark, tmp_path):
    """An add-only commit (the insert-only merge_into fast path:
    remove=[], no dv delta) is append-EQUIVALENT — the stream serves
    it WITHOUT ignorechanges (Delta's remove-based rule) in both table
    and change-feed modes, the pacing twin counts the same files, and
    a merge that actually rewrites still refuses."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamReader,
        _served_sizes,
        _table_schema,
    )

    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(spark.createDataFrame(
        [("a", 1, 1)], "k string, v long, ver long"))
    v_ins = t.merge_into(
        spark.createDataFrame(
            [("b", 2, 2), ("c", 3, 2)], "k string, v long, ver long"),
        when_matched=None,
    )
    rec = _read_record(t.table_dir, v_ins)
    assert rec["op"] == "merge_into" and rec["remove"] == []
    schema = _table_schema(t.table_dir)
    rd = TxLogStreamReader({"tabledir": t.table_dir}, schema)
    parts = rd.partitions({"version": v_ins - 1}, {"version": v_ins})
    rows = {
        tuple(r.values())
        for p in parts
        for b in rd.read(p)
        for r in b.to_pylist()
    }
    assert rows == {("b", 2, 2, v_ins), ("c", 3, 2, v_ins)}
    # pacing twin mirrors: add files counted in BOTH modes
    n, nb = _served_sizes(t.table_dir, rec, False)
    assert n == len(rec["add"]) and nb > 0
    assert _served_sizes(t.table_dir, rec, True) == (n, nb)
    # change-feed mode synthesizes inserts from the add files (no
    # cdf=True needed for an insert-only commit)
    cfs = _table_schema(t.table_dir, cdf=True)
    rdc = TxLogStreamReader(
        {"tabledir": t.table_dir, "readchangefeed": "true"}, cfs)
    rowsc = [
        r
        for p in rdc.partitions(
            {"version": v_ins - 1}, {"version": v_ins})
        for b in rdc.read(p)
        for r in b.to_pylist()
    ]
    assert len(rowsc) == 2
    assert all(r["_change_type"] == "insert" for r in rowsc)
    # a merge that rewrites (matched update) still refuses
    vm = t.merge_into(spark.createDataFrame(
        [("a", 9, 3)], "k string, v long, ver long"))
    with pytest.raises(ValueError, match="MERGE_INTO rewrite"):
        rd.partitions({"version": vm - 1}, {"version": vm})


def test_stream_restore_dv_state_replacement_contract(spark, tmp_path):
    """RESTORE vs the stream, all three shapes: (1) a restore that
    CHANGES the deletion-vector state records ``dv_full`` (an EMPTY
    map included — that is how it resurrects dv-deleted rows) and
    must refuse without ignorechanges, whether dv-only or
    file-add-only — serving it as an append would silently drop row
    changes (the dv-only shape was previously silently SKIPPED as
    'no data change'); (2) a NO-OP restore (state already equal —
    idempotent recovery re-run) records no dv_full and the planner
    skips it without killing the stream; (3) a restore that
    resurrects a whole file with NO dv change is genuinely
    append-equivalent and serves its rows."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamReader,
        _is_add_only,
        _served_sizes,
        _table_schema,
    )

    t = _mk(spark, tmp_path, n_buckets=1)
    v2 = t.append(spark.createDataFrame(
        [("a", 1, 1), ("b", 2, 1)], "k string, v long, ver long"))
    v3 = t.append(spark.createDataFrame(
        [("c", 3, 1)], "k string, v long, ver long"))
    t.delete_where("k = 'c'")  # v4: whole-file removal of the c-file
    t.delete_where("k = 'a'", mode="merge_on_read")  # v5: dv delta
    # (1) restore to v3: resurrects the c-file AND clears the a-vector
    # — file-add-only in add/remove terms, but dv state changes
    v6 = t.restore(v3)
    rec6 = _read_record(t.table_dir, v6)
    assert rec6["op"] == "restore"
    assert rec6["add"] and not rec6["remove"]
    assert "dv_full" in rec6 and rec6["dv_full"] == {}
    assert not _is_add_only(rec6)
    schema = _table_schema(t.table_dir)
    rd = TxLogStreamReader({"tabledir": t.table_dir}, schema)
    with pytest.raises(ValueError, match="deletion vector"):
        rd.partitions({"version": v6 - 1}, {"version": v6})
    # pacing twin still budgets the refusing commit by its add files
    # (ignorechanges would serve them; pacing must not under-count)
    n, _nb = _served_sizes(t.table_dir, rec6, False)
    assert n == len(rec6["add"])
    # ignorechanges: the resurrected file serves
    rd_ok = TxLogStreamReader(
        {"tabledir": t.table_dir, "ignorechanges": "true"}, schema)
    rows = [
        tuple(r.values())
        for p in rd_ok.partitions({"version": v6 - 1}, {"version": v6})
        for b in rd_ok.read(p)
        for r in b.to_pylist()
    ]
    assert rows == [("c", 3, 1, v6)]
    # dv-only restore: vector a row, then roll it back — file sets
    # equal, dv state differs → dv_full ({}) recorded, refuses,
    # never silently skips as 'no data change'
    t.delete_where("k = 'b'", mode="merge_on_read")  # v7: dv delta
    v8 = t.restore(v6)
    rec8 = _read_record(t.table_dir, v8)
    assert not rec8["add"] and not rec8["remove"]
    assert "dv_full" in rec8 and rec8["dv_full"] == {}
    with pytest.raises(ValueError, match="deletion vector"):
        rd.partitions({"version": v8 - 1}, {"version": v8})
    # (2) NO-OP restore: same target again — state already equal, so
    # no dv_full is recorded and the stream just skips the version
    v9 = t.restore(v6)
    rec9 = _read_record(t.table_dir, v9)
    assert not rec9["add"] and not rec9["remove"]
    assert "dv_full" not in rec9
    assert rd.partitions({"version": v9 - 1}, {"version": v9}) == []
    # (3) file-resurrecting restore with NO dv change: append-
    # equivalent, serves without ignorechanges
    t2 = TxTable.create(
        spark, str(tmp_path / "t2"), key_cols=("k",), order_col="ver",
        n_buckets=1,
    )
    t2.append(spark.createDataFrame(
        [("x", 1, 1)], "k string, v long, ver long"))
    w3 = t2.append(spark.createDataFrame(
        [("y", 2, 1)], "k string, v long, ver long"))
    t2.delete_where("k = 'y'")  # whole-file removal, no dv
    w5 = t2.restore(w3)
    rec_w5 = _read_record(t2.table_dir, w5)
    assert rec_w5["add"] and not rec_w5["remove"]
    assert "dv_full" not in rec_w5
    assert _is_add_only(rec_w5)
    rd2 = TxLogStreamReader(
        {"tabledir": t2.table_dir}, _table_schema(t2.table_dir))
    rows2 = [
        tuple(r.values())
        for p in rd2.partitions({"version": w5 - 1}, {"version": w5})
        for b in rd2.read(p)
        for r in b.to_pylist()
    ]
    assert rows2 == [("y", 2, 1, w5)]


def test_auto_checkpoint_cadence(spark, tmp_path):
    """checkpoint_interval (default 10, Delta's cadence): every Nth
    committed version materializes a log checkpoint automatically, so
    replay cost stays O(interval) over an unbounded log; snapshots
    and time travel are unchanged; None/0 disables the cadence."""
    import glob as g

    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=1, checkpoint_interval=3,
    )
    for i in range(7):  # versions 2..8
        t.append(spark.createDataFrame(
            [(i, i * 10, 1)], "k long, v long, ver long"))
    chks = sorted(g.glob(
        os.path.join(t.table_dir, "_txlog", "chk-*.json")))
    cvs = [int(os.path.basename(p)[4:24]) for p in chks]
    assert 3 in cvs and 6 in cvs, cvs
    # snapshots and time travel replay identically through the chks
    assert t.read().count() == 7
    assert t.read(version=4).count() == 3
    fresh = TxTable(spark, t.table_dir)
    assert {r["k"] for r in fresh.read().collect()} == set(range(7))
    # disabled cadence writes no checkpoints
    t2 = TxTable.create(
        spark, str(tmp_path / "t2"), key_cols=("k",), order_col="ver",
        n_buckets=1, checkpoint_interval=None,
    )
    for i in range(11):
        t2.append(spark.createDataFrame(
            [(i, i, 1)], "k long, v long, ver long"))
    assert not g.glob(
        os.path.join(t2.table_dir, "_txlog", "chk-*.json"))


def test_log_checkpoint_replay_equivalence(spark, tmp_path):
    """A log checkpoint must be a pure optimization: snapshots (latest
    AND time-travel, before or after the checkpoint version) are
    byte-identical with and without it, and later commits replay on
    top of it."""
    t = _mk(spark, tmp_path, n_buckets=2)
    for i in range(3):
        t.append(spark.createDataFrame(
            [(f"w{i}_{j}", j, i * 10 + j) for j in range(20)],
            "k string, v long, ver long"))
    t.merge_upsert(spark.createDataFrame(
        [("w0_0", 999, 99)], "k string, v long, ver long"))
    pre = {v: sorted(map(tuple, t.read(version=v).collect()))
           for v in range(2, t.latest_version() + 1)}

    cv = t.checkpoint()
    assert cv == t.latest_version()
    t.append(spark.createDataFrame([("zz", 1, 1)], "k string, v long, ver long"))
    t.delete_where("k = 'w1_3'")

    # fresh handle replays through the checkpoint
    t2 = TxTable(spark, t.table_dir)
    for v, want in pre.items():  # time travel BELOW the checkpoint
        assert sorted(map(tuple, t2.read(version=v).collect())) == want
    assert t2.read().count() == 60  # 61 rows + zz - merge dup - deleted
    # the checkpoint file exists and a corrupted one falls back cleanly
    import glob as _g
    chk = _g.glob(os.path.join(t.table_dir, "_txlog", "chk-*.json"))
    assert len(chk) == 1
    with open(chk[0], "w") as f:
        f.write("{corrupt")
    assert TxTable(spark, t.table_dir).read().count() == 60


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    """RESTORE: live state returns to the target snapshot via a NEW
    commit; history stays reachable; the CDF of a pure-removal restore
    is the exact multiset of deleted rows; restoring past vacuum fails
    loudly."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(spark.createDataFrame(
        [("a", 1, 1), ("b", 2, 2)], "k string, v long, ver long"))  # v2
    t.append(spark.createDataFrame(
        [("c", 3, 3), ("d", 4, 4)], "k string, v long, ver long"))  # v3
    t.delete_where("k = 'a'")                                      # v4

    rv = t.restore(3)  # undo the delete
    assert rv == 5
    assert _rows(t) == {"a": (1, 1), "b": (2, 2), "c": (3, 3), "d": (4, 4)}
    # CDF of the undo-delete: 'a' comes back (insert side of the diff)
    feed = {(r["k"], r["_change_type"]) for r in t.table_changes(rv).collect()}
    assert ("a", "insert") in feed

    rv2 = t.restore(2)  # pure removal: drop wave 2 entirely
    assert _rows(t) == {"a": (1, 1), "b": (2, 2)}
    feed2 = [(r["k"], r["_change_type"]) for r in t.table_changes(rv2).collect()]
    assert sorted(feed2) == [("c", "delete"), ("d", "delete")]
    # the rolled-back period is still auditable via time travel
    assert set(_rows(t, version=3)) == {"a", "b", "c", "d"}

    with pytest.raises(ValueError, match="log spans"):
        t.restore(99)

    # vacuum reclaims wave-2's files → restore to v3 must refuse
    t.vacuum(retain_versions=1)
    with pytest.raises(ValueError, match="vacuum reclaimed"):
        t.restore(3)


def test_cdf_whole_file_delete_emits_deletes(spark, tmp_path):
    """A DELETE that empties every touched file commits remove-only;
    its CDF must still carry the row-level deletes (regression: an
    empty post-image used to read as 'no changes')."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(spark.createDataFrame(
        [("x", 1, 1), ("y", 2, 2)], "k string, v long, ver long"))
    v, n = t.delete_where("ver >= 1")  # everything goes
    assert n == 2 and t.read().count() == 0
    feed = [(r["k"], r["_change_type"]) for r in t.table_changes(v).collect()]
    assert sorted(feed) == [("x", "delete"), ("y", "delete")]


def test_update_where_copy_on_write(spark, tmp_path):
    """Row-level UPDATE: SET expressions apply to matching rows only,
    untouched files carry forward, key columns are unassignable, and
    the CDF is the exact full-row multiset delta even with duplicate
    keys in touched files."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(spark.createDataFrame(
        [("a", 1, 1), ("b", 2, 2), ("b", 20, 3), ("c", 3, 4)],
        "k string, v long, ver long"))  # note: duplicate key 'b'
    v_before = t.latest_version()

    # nothing matches → no commit
    assert t.update_where("v > 999", {"v": "v + 1"}) == (v_before, 0)
    # key columns refuse assignment
    with pytest.raises(ValueError, match="key column"):
        t.update_where("v = 1", {"k": "'z'"})

    v, n = t.update_where("v >= 2", {"v": "v * 10", "ver": "ver + 100"})
    assert n == 3
    got = {(r["k"], r["v"], r["ver"]) for r in t.read().collect()}
    assert got == {("a", 1, 1), ("b", 20, 102), ("b", 200, 103), ("c", 30, 104)}
    # time travel sees the pre-update rows
    assert {(r["k"], r["v"]) for r in t.read(version=v_before).collect()} == {
        ("a", 1), ("b", 2), ("b", 20), ("c", 3)}

    # CDF: exact multiset — 3 deletes (old images) + 3 inserts (new)
    feed = [(r["k"], r["v"], r["_change_type"])
            for r in t.table_changes(v).collect()]
    assert sorted(f for f in feed if f[2] == "delete") == [
        ("b", 2, "delete"), ("b", 20, "delete"), ("c", 3, "delete")]
    assert sorted(f for f in feed if f[2] == "insert") == [
        ("b", 20, "insert"), ("b", 200, "insert"), ("c", 30, "insert")]


def test_cdf_delete_exact_with_duplicate_keys(spark, tmp_path):
    """Deleting ONE copy of a duplicated key must feed exactly one
    delete row — the full-row multiset diff, not a key join that would
    multiply through the duplicates."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(spark.createDataFrame(
        [("x", 1, 1), ("x", 1, 2), ("x", 1, 3)], "k string, v long, ver long"))
    v, n = t.delete_where("ver = 2")
    assert n == 1
    feed = [(r["k"], r["ver"], r["_change_type"])
            for r in t.table_changes(v).collect()]
    assert feed == [("x", 2, "delete")]


def test_check_constraints_gate_every_write_path(spark, tmp_path):
    """CHECK constraints are data contracts enforced at the storage
    boundary: adding one validates existing rows, every later append /
    merge / update rejects violating batches BEFORE anything commits
    (including NULLs in the checked expression), dropping it re-opens
    the gate, and constraint commits are invisible to the streaming
    source."""
    from kafka_flink_harshevents_spark.sources.txlog import (
        ConstraintViolation,
    )
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamReader,
        _table_schema,
    )

    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [("a", 1, 1), ("b", 2, 2)], "k string, v long, ver long"))
    cv = t.add_constraint("v_nonneg", "v >= 0")
    assert t.constraints() == {"v_nonneg": "v >= 0"}

    # a violating append/merge/update leaves NO new version behind
    before = t.latest_version()
    with pytest.raises(ConstraintViolation):
        t.append(spark.createDataFrame([("c", -5, 3)], "k string, v long, ver long"))
    with pytest.raises(ConstraintViolation):
        t.merge_upsert(spark.createDataFrame([("a", -1, 9)], "k string, v long, ver long"))
    with pytest.raises(ConstraintViolation):  # NULL is a contract breach
        t.append(spark.createDataFrame([("d", None, 4)], "k string, v long, ver long"))
    with pytest.raises(ConstraintViolation):
        t.update_where("k = 'a'", {"v": "v - 100"})
    assert t.latest_version() == before
    assert t.read().count() == 2

    # valid writes flow; adding a rule the DATA violates is refused
    t.append(spark.createDataFrame([("c", 7, 3)], "k string, v long, ver long"))
    with pytest.raises(ConstraintViolation, match="existing rows"):
        t.add_constraint("v_small", "v < 5")

    # fresh handle sees the constraint; time travel sees none back then
    assert TxTable(spark, t.table_dir).constraints() == {"v_nonneg": "v >= 0"}
    assert t.constraints(version=2) == {}

    # the metadata-only constraint commit streams NOTHING (and is not
    # refused as a rewrite)
    rd = TxLogStreamReader({"tabledir": t.table_dir}, _table_schema(t.table_dir))
    assert rd.partitions({"version": cv - 1}, {"version": cv}) == []

    t.drop_constraint("v_nonneg")
    t.append(spark.createDataFrame([("e", -9, 5)], "k string, v long, ver long"))
    assert t.read().filter("v < 0").count() == 1


def test_merge_on_read_deletion_vectors(spark, tmp_path):
    """DV deletes touch no data file: rows vanish from every read path
    (snapshot, merge rewrite, metadata, prune report), vectors union
    across commits and survive checkpoints, compact materializes them,
    and restore rolls them back — with the CDF exact at every step."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(spark.createDataFrame(
        [(f"k{i}", i, i) for i in range(10)], "k string, v long, ver long"))
    _, live0, _ = t._snapshot()

    v1, n1 = t.delete_where("v IN (2, 5)", mode="merge_on_read")
    assert n1 == 2
    _, live1, _ = t._snapshot()
    assert {e["path"] for e in live0} == {e["path"] for e in live1}  # no file touched
    assert {r["v"] for r in t.read().collect()} == set(range(10)) - {2, 5}
    assert {r["v"] for r in t.read(version=v1 - 1).collect()} == set(range(10))
    # CDF: exactly the two vector rows as deletes
    feed = sorted((r["v"], r["_change_type"]) for r in t.table_changes(v1).collect())
    assert feed == [(2, "delete"), (5, "delete")]
    # metadata: exact rows, refused column stats for the DV'd file
    meta = t.metadata_aggregate(("v",))
    assert meta["rows"] == 8
    assert meta["cols"]["v"]["min"] is None

    # second vector unions; a repeated delete of a gone row is a no-op
    v2, n2 = t.delete_where("v = 7", mode="merge_on_read")
    assert n2 == 1
    assert t.delete_where("v = 5", mode="merge_on_read") == (v2, 0)
    assert t.read().count() == 7

    # checkpoint carries the vectors for fresh readers
    t.checkpoint()
    assert TxTable(spark, t.table_dir).read().count() == 7

    # a MERGE rewrite of the bucket must NOT resurrect DV'd rows
    t.merge_upsert(spark.createDataFrame(
        [("k0", 100, 99)], "k string, v long, ver long"))
    vals = {r["v"] for r in t.read().collect()}
    assert vals == {100, 1, 3, 4, 6, 8, 9}
    # the rewrite materialized the vectors for its bucket (files changed)
    assert t._replay()[3] == {}

    # restore across the whole history resurrects vector-deleted rows
    rv = t.restore(v1 - 1)
    assert {r["v"] for r in t.read().collect()} == set(range(10))
    ins = sorted(r["v"] for r in t.table_changes(rv).collect()
                 if r["_change_type"] == "insert")
    assert 2 in ins and 5 in ins and 7 in ins


def test_merge_on_read_falls_back_when_vector_too_big(spark, tmp_path):
    """A delete matching more rows than max_dv_rows rewrites files
    instead — a vector the size of the file has no read advantage."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(spark.createDataFrame(
        [(f"k{i}", i, i) for i in range(50)], "k string, v long, ver long"))
    _, live0, _ = t._snapshot()
    v, n = t.delete_where("v < 40", mode="merge_on_read", max_dv_rows=10)
    assert n == 40
    _, live1, _ = t._snapshot()
    assert {e["path"] for e in live0} != {e["path"] for e in live1}  # rewritten
    assert t._replay()[3] == {}  # no vector recorded
    assert t.read().count() == 10


def test_stream_source_refuses_dv_commit(spark, tmp_path):
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamReader,
        _table_schema,
    )

    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(spark.createDataFrame(
        [("a", 1, 1), ("b", 2, 2)], "k string, v long, ver long"))
    v, _ = t.delete_where("k = 'a'", mode="merge_on_read")
    schema = _table_schema(t.table_dir)
    rd = TxLogStreamReader({"tabledir": t.table_dir}, schema)
    with pytest.raises(ValueError, match="deletion vector"):
        rd.partitions({"version": v - 1}, {"version": v})
    rd_ok = TxLogStreamReader(
        {"tabledir": t.table_dir, "ignorechanges": "true"}, schema)
    assert rd_ok.partitions({"version": v - 1}, {"version": v}) == []


def test_delete_where_keeps_predicate_null_rows(spark, tmp_path):
    """SQL DELETE semantics: a row where the condition evaluates to
    NULL is NOT deleted (unknown never deletes). Both strategies must
    agree, including when a NULL-condition row shares a file with a
    real match (the copy-on-write rewrite path must carry it forward
    as a survivor, not silently drop it)."""
    for mode in ("copy_on_write", "merge_on_read"):
        t = TxTable.create(
            spark, str(tmp_path / f"table-{mode}"), key_cols=("k",),
            order_col="ver", n_buckets=1,  # one file: NULL row shares it
        )
        t.append(spark.createDataFrame(
            [("a", 1, 1), ("b", None, 1), ("c", 5, 1)],
            "k string, v long, ver long"))
        v, n = t.delete_where("v < 3", mode=mode)
        assert n == 1, mode                      # only 'a' matches TRUE
        snap = {r["k"]: r["v"] for r in t.read().collect()}
        assert snap == {"b": None, "c": 5}, mode  # NULL row survives
        # and it is counted nowhere: CDF shows exactly one delete
        dels = [r for r in t.table_changes(v).collect()
                if r["_change_type"] == "delete"]
        assert [r["k"] for r in dels] == ["a"], mode


def test_merge_on_read_probe_is_bounded(spark, tmp_path):
    """The DV-vs-rewrite decision must never materialize an unbounded
    position set driver-side: every collect of the (_file, _rowpos)
    probe frame is capped at max_dv_rows + 1 rows even when the
    predicate matches far more."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(spark.createDataFrame(
        [(f"k{i}", i, i) for i in range(200)], "k string, v long, ver long"))
    _DF = type(spark.range(1))  # the concrete DataFrame class in use
    max_dv = 10
    orig_collect = _DF.collect
    seen: list[int] = []

    def spy(self):
        rows = orig_collect(self)
        if set(self.columns) == {"_file", "_rowpos"}:
            seen.append(len(rows))
        return rows

    _DF.collect = spy
    try:
        v, n = t.delete_where("v < 150", mode="merge_on_read",
                              max_dv_rows=max_dv)
    finally:
        _DF.collect = orig_collect
    assert n == 150 and t.read().count() == 50
    assert seen and all(c <= max_dv + 1 for c in seen)


def test_vacuum_spares_fresh_uncommitted_stage(spark, tmp_path):
    """A concurrent writer's freshly staged (not-yet-committed) files
    are inside the retention window — vacuum must not reclaim them, or
    the writer's winning commit would reference deleted data. Committed-
    then-superseded files carry no such risk and go immediately."""
    t = _mk(spark, tmp_path)
    t.merge_upsert(spark.createDataFrame(
        [("a", 1, 1)], "k string, v long, ver long"))
    # simulate a concurrent writer mid-commit: stage without committing
    staged = t._stage(t._with_bucket(spark.createDataFrame(
        [("z", 9, 9)], "k string, v long, ver long")))
    assert staged
    fresh = os.path.join(t.table_dir, staged[0]["path"])
    deleted = t.vacuum(retain_versions=1)
    assert os.path.exists(fresh)           # inside the grace window
    assert all(staged[0]["path"] != p for p in deleted)
    # the stub writer can still win its commit and the table reads clean
    _atomic_commit(t.table_dir, t.latest_version() + 1, {
        "version": t.latest_version() + 1, "op": "append",
        "add": staged, "remove": [],
        "schema_json": t._snapshot()[2],
    })
    snap = {r["k"]: r["v"] for r in t.read().collect()}
    assert snap == {"a": 1, "z": 9}
    # grace_seconds=0 opts into immediate reclamation (test hygiene)
    t2 = _mk(spark, tmp_path / "t2")
    t2.merge_upsert(spark.createDataFrame(
        [("a", 1, 1)], "k string, v long, ver long"))
    orphan = t2._stage(t2._with_bucket(spark.createDataFrame(
        [("q", 7, 7)], "k string, v long, ver long")))
    gone = t2.vacuum(retain_versions=1, grace_seconds=0)
    assert orphan[0]["path"] in gone


def test_append_race_never_narrows_schema(spark, tmp_path):
    """An append racing a schema-widening commit must not re-commit its
    pre-race (narrower) schema on retry: schema is recomputed from the
    LATEST snapshot inside the retry loop. With merge_schema=True the
    retried append records the widened schema; without it, the retry
    fails loudly (schema mismatch) instead of silently narrowing."""
    import kafka_flink_harshevents_spark.sources.txlog as txmod
    from pyspark.sql.types import StructType

    t = _mk(spark, tmp_path)
    t.merge_upsert(spark.createDataFrame(
        [("a", 1, 1)], "k string, v long, ver long"))
    wide_json = StructType.fromJson(
        json.loads(t._snapshot()[2])
    ).add("extra", "long").json()

    orig_commit = txmod._atomic_commit
    fired = {"done": False}

    def racing_commit(table_dir, version, record):
        if not fired["done"] and record.get("op") == "append":
            fired["done"] = True
            # the concurrent widening commit wins this version...
            orig_commit(table_dir, version, {
                "version": version, "op": "append", "add": [],
                "remove": [], "schema_json": wide_json,
            })
            # ...and the append loses the race
            raise ConcurrentWriteError(f"version {version} taken")
        return orig_commit(table_dir, version, record)

    txmod._atomic_commit = racing_commit
    try:
        t.append(spark.createDataFrame(
            [("b", 2, 2)], "k string, v long, ver long"),
            merge_schema=True)
    finally:
        txmod._atomic_commit = orig_commit
    # the committed schema kept the concurrently added column
    cols = set(t.read().columns)
    assert "extra" in cols, cols
    snap = {r["k"]: r["v"] for r in t.read().collect()}
    assert snap == {"a": 1, "b": 2}

    # without merge_schema the retried append refuses rather than narrows
    fired["done"] = False
    wide2 = StructType.fromJson(
        json.loads(t._snapshot()[2])
    ).add("extra2", "long").json()

    def racing_commit2(table_dir, version, record):
        if not fired["done"] and record.get("op") == "append":
            fired["done"] = True
            orig_commit(table_dir, version, {
                "version": version, "op": "append", "add": [],
                "remove": [], "schema_json": wide2,
            })
            raise ConcurrentWriteError(f"version {version} taken")
        return orig_commit(table_dir, version, record)

    txmod._atomic_commit = racing_commit2
    try:
        with pytest.raises(ValueError, match="schema mismatch"):
            t.append(spark.createDataFrame(
                [("c", 3, 3, 0)],
                "k string, v long, ver long, extra long"))
    finally:
        txmod._atomic_commit = orig_commit
    # the concurrent widening commit stands; the losing append committed
    # NOTHING (no row, no narrower schema record)
    assert "extra2" in set(t.read().columns)
    assert "c" not in {r["k"] for r in t.read().collect()}
    rec_fields = {f["name"] for f in json.loads(t._snapshot()[2])["fields"]}
    assert "extra2" in rec_fields


@pytest.mark.slow
def test_stream_ignorechanges_resumes_past_dv_and_compact(spark, tmp_path):
    """The ignorechanges resume path across deletion vectors: a DV
    commit streams nothing (no new files), later appends keep flowing,
    and the compact() that MATERIALIZES the vectors must not resurrect
    the deleted rows into the stream (compaction is data-preserving —
    its rewritten files are never served)."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
    )

    spark.dataSource.register(TxLogStreamSource)
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(spark.createDataFrame(
        [("a", 1, 1), ("b", 2, 1), ("c", 3, 1)],
        "k string, v long, ver long"))  # v2
    ckpt = str(tmp_path / "ckpt")

    def drain():
        got: list = []

        def sink(batch_df, _bid):
            got.extend(
                (r["k"], r["v"], r["_commit_version"])
                for r in batch_df.collect()
            )

        q = (
            spark.readStream.format("txlog")
            .option("tabledir", t.table_dir)
            .option("ignorechanges", "true")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    assert sorted(drain()) == [("a", 1, 2), ("b", 2, 2), ("c", 3, 2)]

    # DV delete: no files added — the resumed stream emits nothing
    v_dv, n = t.delete_where("k = 'b'", mode="merge_on_read")  # v3
    assert n == 1 and t._replay()[3] != {}
    assert drain() == []

    # the stream keeps flowing past the DV commit
    t.append(spark.createDataFrame(
        [("d", 4, 1)], "k string, v long, ver long"))  # v4
    assert drain() == [("d", 4, 4)]

    # compaction materializes the vectors (rewrite) — still streams
    # NOTHING: the deleted row must not resurrect via the new files
    t.compact()  # v5
    assert t._replay()[3] == {}  # vectors gone, physically applied
    assert drain() == []

    # and the post-compact table keeps streaming appends normally
    t.append(spark.createDataFrame(
        [("e", 5, 1)], "k string, v long, ver long"))  # v6
    got = drain()
    assert got == [("e", 5, 6)]


def test_optimize_zorder_improves_skipping_layout_only(spark, tmp_path):
    """OPTIMIZE ZORDER BY: layout-only (exact multiset preserved, time
    travel intact, stream silent), and after clustering a range
    predicate on EITHER z-ordered dimension prunes most files via the
    recorded footer stats — the single big-file-per-bucket layout
    before it could skip nothing."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
        _table_schema,
        TxLogStreamReader,
    )

    t = _mk(spark, tmp_path, n_buckets=2)
    rows = [(f"k{i}", (i * 37) % 1000, (i * 91) % 1000, 1)
            for i in range(4000)]
    t.append(spark.createDataFrame(
        rows, "k string, x long, y long, ver long"))
    v_before = t.latest_version()
    before = sorted((r["k"], r["x"], r["y"]) for r in t.read().collect())

    rep0 = t.prune_report({"x": (100, 150)})
    assert rep0["files_skipped"] == 0  # one wide file per bucket

    v = t.optimize_zorder(("x", "y"), bits=6, max_rows_per_file=250)

    # exact multiset preserved; time travel still sees the old layout
    after = sorted((r["k"], r["x"], r["y"]) for r in t.read().collect())
    assert after == before
    assert sorted(
        (r["k"], r["x"], r["y"])
        for r in t.read(version=v_before).collect()
    ) == before

    # data skipping now real on BOTH dimensions
    repx = t.prune_report({"x": (100, 150)})
    repy = t.prune_report({"y": (100, 150)})
    # 8 files/bucket at 3 z-prefix bits = quarter resolution per dim:
    # a narrow range on either dim keeps ~1 quadrant + boundary files
    assert repx["files_total"] >= 16  # split into many narrow files
    assert repx["files_skipped"] >= repx["files_total"] // 3, repx
    assert repy["files_skipped"] >= repy["files_total"] // 3, repy

    # pruned read stays EXACT
    got = sorted(
        (r["k"], r["x"]) for r in
        t.read(prune={"x": (100, 150)}).collect()
    )
    want = sorted((k, x) for (k, x, y) in before if 100 <= x <= 150)
    assert got == want

    # the z-value never leaks into the user schema
    assert "_zv" not in t.read().columns

    # streaming source treats it as the data-preserving rewrite it is
    rd = TxLogStreamReader(
        {"tabledir": t.table_dir}, _table_schema(t.table_dir))
    assert rd.partitions({"version": v - 1}, {"version": v}) == []


def test_optimize_zorder_empty_and_concurrent_race(spark, tmp_path):
    """Edge semantics: z-ordering an empty table is a no-op (no
    commit); a zorder racing a concurrent writer retries from the NEW
    snapshot, so the winning layout contains the concurrently merged
    rows (no lost update, optimistic-concurrency contract)."""
    import kafka_flink_harshevents_spark.sources.txlog as txmod

    t = _mk(spark, tmp_path)
    assert t.optimize_zorder(("v",)) == t.latest_version()  # empty: no-op

    t.append(spark.createDataFrame(
        [(f"k{i}", i, 1) for i in range(100)], "k string, v long, ver long"))

    orig_commit = txmod._atomic_commit
    fired = {"done": False}

    def racing_commit(table_dir, version, record):
        if not fired["done"] and record.get("zorder"):
            fired["done"] = True
            # a concurrent merge wins this version before the zorder
            other = TxTable(spark, table_dir)
            txmod._atomic_commit = orig_commit
            try:
                other.merge_upsert(spark.createDataFrame(
                    [("k0", -5, 9)], "k string, v long, ver long"))
            finally:
                txmod._atomic_commit = racing_commit
            raise ConcurrentWriteError(f"version {version} taken")
        return orig_commit(table_dir, version, record)

    txmod._atomic_commit = racing_commit
    try:
        v = t.optimize_zorder(("v",), max_rows_per_file=25)
    finally:
        txmod._atomic_commit = orig_commit
    snap = {r["k"]: r["v"] for r in t.read().collect()}
    assert snap["k0"] == -5 and len(snap) == 100  # merged row survived
    assert t.latest_version() == v


def test_join_view_maintenance_matches_recompute(spark, tmp_path):
    """Delta-join IVM: a materialized A ⋈ B view maintained purely
    from the two tables' CDF deltas (ΔA ⋈ B, A ⋈ ΔB — each side's
    commits folded in order, joining the other side's applied
    snapshot) must equal the full recompute as an exact MULTISET
    (duplicate join pairs carry _mult > 1) across appends with
    duplicate keys, a merge (update + insert), and deletes on both
    sides."""
    from kafka_flink_harshevents_spark.operators.ivm import (
        apply_view_delta,
        join_view_delta,
    )

    a = TxTable.create(
        spark, str(tmp_path / "a"), key_cols=("ok",), order_col="ver",
        n_buckets=2,
    )
    b = TxTable.create(
        spark, str(tmp_path / "b"), key_cols=("ck",), order_col="ver",
        n_buckets=2,
    )
    view = None

    # the view's columns are the JOIN's user columns: project the
    # order_col bookkeeping away on both sides so deltas from either
    # table group on identical keys
    def apply_a(version):
        nonlocal view
        other = b.read().drop("ver") if b.latest_version() > 1 else None
        if other is None:
            return  # empty B: delta is empty by definition
        delta = join_view_delta(
            a.table_changes(version).drop("ver"), other, ["ck"]
        )
        view = apply_view_delta(view, delta).localCheckpoint()

    def apply_b(version):
        nonlocal view
        delta = join_view_delta(
            b.table_changes(version).drop("ver"),
            a.read().drop("ver"), ["ck"],
        )
        view = apply_view_delta(view, delta).localCheckpoint()

    # A carries duplicate ck values (two orders per customer for ck=1)
    va = a.append(spark.createDataFrame(
        [(1, 1, 10, 1), (2, 1, 20, 1), (3, 2, 30, 1)],
        "ok long, ck long, amt long, ver long"))
    apply_a(va)                      # B still empty → no-op
    vb = b.append(spark.createDataFrame(
        [(1, "gold", 1), (2, "silver", 1)], "ck long, seg string, ver long"))
    apply_b(vb)
    vm = a.merge_upsert(spark.createDataFrame(
        [(2, 1, 25, 2), (4, 2, 40, 1)],   # update ok=2, insert ok=4
        "ok long, ck long, amt long, ver long"))
    apply_a(vm)
    vd, n = b.delete_where("ck = 2")      # drops customer 2 → ok 3,4 pairs
    assert n == 1
    apply_b(vd)
    vda, n2 = a.delete_where("ok = 1")
    assert n2 == 1
    apply_a(vda)

    def multiset(df, cols):
        out: dict = {}
        for r in df.collect():
            k = tuple(r[c] for c in cols)
            out[k] = out.get(k, 0) + (r["_mult"] if "_mult" in df.columns else 1)
        return {k: v for k, v in out.items() if v}

    cols = ["ck", "ok", "amt", "seg"]
    got = multiset(view.select(*cols, "_mult"), cols)
    want = multiset(
        a.read().drop("ver").join(b.read().drop("ver"), "ck").select(*cols),
        cols,
    )
    assert got == want and want  # non-vacuous
    # concretely: only (ok=2 updated amt=25) ⋈ gold survives
    assert got == {(1, 2, 25, "gold"): 1}


def test_aggregate_over_join_view_maintenance(spark, tmp_path):
    """The full IVM composition: a maintained GROUP BY aggregate OVER
    a join (per-segment order count + amount total), fed only by CDF
    deltas from both base tables, equals the recomputed aggregate
    after every commit — including a retraction that empties a group
    (the group must vanish, not linger at zero)."""
    from pyspark.sql import functions as F

    from kafka_flink_harshevents_spark.operators.ivm import (
        aggregate_view_delta,
        join_view_delta,
        merge_aggregate_states,
    )

    a = TxTable.create(
        spark, str(tmp_path / "a"), key_cols=("ok",), order_col="ver",
        n_buckets=2,
    )
    b = TxTable.create(
        spark, str(tmp_path / "b"), key_cols=("ck",), order_col="ver",
        n_buckets=2,
    )
    state = None

    def fold(delta):
        nonlocal state
        agg = aggregate_view_delta(delta, ["seg"], ["amt"])
        state = merge_aggregate_states(state, agg, ["seg"]).localCheckpoint()

    def recompute():
        j = a.read().drop("ver").join(b.read().drop("ver"), "ck")
        return {
            r["seg"]: (r["n"], r["s"])
            for r in j.groupBy("seg")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("amt").cast("long").alias("s"),
            )
            .collect()
        }

    def snapshot():
        return {
            r["seg"]: (r["n_rows"], r["sum_amt"]) for r in state.collect()
        }

    vb = b.append(spark.createDataFrame(
        [(1, "gold", 1), (2, "silver", 1)], "ck long, seg string, ver long"))
    # B committed first against empty A: delta empty, nothing to fold
    va = a.append(spark.createDataFrame(
        [(1, 1, 10, 1), (2, 1, 20, 1), (3, 2, 30, 1)],
        "ok long, ck long, amt long, ver long"))
    fold(join_view_delta(
        a.table_changes(va).drop("ver"), b.read().drop("ver"), ["ck"]))
    assert snapshot() == recompute() == {"gold": (2, 30), "silver": (1, 30)}

    vm = a.merge_upsert(spark.createDataFrame(
        [(2, 1, 25, 2), (4, 2, 40, 1)],
        "ok long, ck long, amt long, ver long"))
    fold(join_view_delta(
        a.table_changes(vm).drop("ver"), b.read().drop("ver"), ["ck"]))
    assert snapshot() == recompute() == {"gold": (2, 35), "silver": (2, 70)}

    # delete customer 2: the silver group must VANISH from the state
    vd, _ = b.delete_where("ck = 2")
    fold(join_view_delta(
        b.table_changes(vd).drop("ver"), a.read().drop("ver"), ["ck"]))
    assert snapshot() == recompute() == {"gold": (2, 35)}


def test_cdf_materialization_matches_derived(spark, tmp_path):
    """cdf=True tables write their change feed at commit time; the
    materialized rows must be the EXACT multiset the lazy derivation
    produces, across merge (update+insert+dup-collapse), copy-on-write
    delete and merge-on-read (DV) delete."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    from kafka_flink_harshevents_spark.sources.txlog import _read_record

    t.append(spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 2), ("b", 10, 1), ("c", 100, 1)],
        "k string, v long, ver long"))  # dup key 'a' via append
    versions = []
    versions.append(t.merge_upsert(spark.createDataFrame(
        [("a", 3, 3), ("d", 7, 1)], "k string, v long, ver long")))
    versions.append(t.delete_where("k = 'b'")[0])
    versions.append(t.delete_where("k = 'c'", mode="merge_on_read")[0])
    versions.append(t.update_where("k = 'd'", {"v": "v + 1"})[0])

    def multiset(df):
        out: dict = {}
        for r in df.collect():
            key = (r["k"], r["v"], r["ver"], r["_change_type"])
            out[key] = out.get(key, 0) + 1
        return out

    for v in versions:
        rec = _read_record(t.table_dir, v)
        assert rec.get("cdf_files"), f"version {v} did not materialize"
        derived = t._changes_for(v, {k: x for k, x in rec.items()
                                     if k != "cdf_files"})
        assert multiset(t.table_changes(v)) == multiset(derived), v
    # appends and compactions never materialize
    va = t.append(spark.createDataFrame(
        [("e", 5, 1)], "k string, v long, ver long"))
    assert "cdf_files" not in _read_record(t.table_dir, va)
    vc = t.compact()
    assert "cdf_files" not in _read_record(t.table_dir, vc)


def test_stream_readchangefeed_end_to_end(spark, tmp_path):
    """readchangefeed=true serves the live row-level change feed:
    appends as inserts, merges as pre/post pairs, deletes as deletes —
    exactly once across checkpointed restarts; a rewrite on a non-CDF
    table refuses with the enable-cdf hint."""
    from pyspark.sql.utils import StreamingQueryException

    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
    )

    spark.dataSource.register(TxLogStreamSource)
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    ckpt = str(tmp_path / "ckpt")

    def drain():
        got: list = []

        def sink(batch_df, _bid):
            got.extend(
                (r["k"], r["v"], r["_change_type"], r["_commit_version"])
                for r in batch_df.collect()
            )

        q = (
            spark.readStream.format("txlog")
            .option("tabledir", t.table_dir)
            .option("readchangefeed", "true")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(got)

    v2 = t.append(spark.createDataFrame(
        [("a", 1, 1), ("b", 10, 1)], "k string, v long, ver long"))
    assert drain() == [("a", 1, "insert", v2), ("b", 10, "insert", v2)]

    v3 = t.merge_upsert(spark.createDataFrame(
        [("a", 2, 2), ("c", 30, 1)], "k string, v long, ver long"))
    assert drain() == sorted([
        ("a", 1, "update_preimage", v3),
        ("a", 2, "update_postimage", v3),
        ("c", 30, "insert", v3),
    ])

    v4, n = t.delete_where("k = 'b'")
    assert n == 1
    assert drain() == [("b", 10, "delete", v4)]

    # compaction: data-preserving → feeds nothing
    t.compact()
    assert drain() == []

    # non-CDF table: the feed refuses a rewrite with the enable hint
    t2 = TxTable.create(
        spark, str(tmp_path / "t2"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t2.append(spark.createDataFrame([("x", 1, 1)], "k string, v long, ver long"))
    t2.merge_upsert(spark.createDataFrame([("x", 2, 2)], "k string, v long, ver long"))
    with pytest.raises(StreamingQueryException, match="cdf=True"):
        q = (
            spark.readStream.format("txlog")
            .option("tabledir", t2.table_dir)
            .option("readchangefeed", "true")
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)


def test_streaming_ivm_from_change_feed(spark, tmp_path):
    """The complete lakehouse loop: ACID table → readchangefeed stream
    → incrementally maintained materialized aggregate (foreachBatch
    folding signed deltas). After appends, a merge and a delete — with
    a stream restart in the middle — the maintained per-group state
    equals the full recompute, exactly."""
    from pyspark.sql import functions as F

    from kafka_flink_harshevents_spark.operators.ivm import (
        aggregate_view_delta,
        merge_aggregate_states,
    )
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
    )

    spark.dataSource.register(TxLogStreamSource)
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    ckpt = str(tmp_path / "ckpt")
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)

    def fold_batch(batch_df, _bid):
        # signed delta straight from the change feed; versions within
        # a batch can fold together — the merge is associative
        delta = aggregate_view_delta(
            batch_df.withColumn(
                "_mult",
                F.when(
                    F.col("_change_type").isin(
                        "insert", "update_postimage"
                    ),
                    F.lit(1),
                ).otherwise(F.lit(-1)).cast("long"),
            ).select("grp", "amt", "_mult"),
            ["grp"], ["amt"],
        )
        try:
            prev = batch_df.sparkSession.read.parquet(state_dir + "/cur")
        except Exception:
            prev = None
        merged = merge_aggregate_states(prev, delta, ["grp"])
        merged.write.mode("overwrite").parquet(state_dir + "/nxt")
        import shutil as _sh

        _sh.rmtree(state_dir + "/cur", ignore_errors=True)
        os.rename(state_dir + "/nxt", state_dir + "/cur")

    def drain():
        q = (
            spark.readStream.format("txlog")
            .option("tabledir", t.table_dir)
            .option("readchangefeed", "true")
            .load()
            .writeStream.foreachBatch(fold_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def snapshot():
        return {
            r["grp"]: (r["n_rows"], r["sum_amt"])
            for r in spark.read.parquet(state_dir + "/cur").collect()
        }

    def recompute():
        return {
            r["grp"]: (r["n"], r["s"])
            for r in t.read()
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("amt").cast("long").alias("s"),
            )
            .collect()
        }

    t.append(spark.createDataFrame(
        [("a", "g1", 10, 1), ("b", "g1", 20, 1), ("c", "g2", 5, 1)],
        "k string, grp string, amt long, ver long"))
    drain()
    assert snapshot() == recompute() == {"g1": (2, 30), "g2": (1, 5)}

    # merge (update a, insert d) + delete of the whole g2 group, then
    # a RESTARTED stream picks up both commits from the checkpoint
    t.merge_upsert(spark.createDataFrame(
        [("a", "g1", 15, 2), ("d", "g2", 40, 1)],
        "k string, grp string, amt long, ver long"))
    t.delete_where("k = 'c'")
    drain()
    assert snapshot() == recompute() == {"g1": (2, 35), "g2": (1, 40)}

    # deleting the last g2 rows makes the group vanish from the state
    t.delete_where("grp = 'g2'")
    drain()
    assert snapshot() == recompute() == {"g1": (2, 35)}


def test_bloom_point_lookup_skips_and_stays_exact(spark, tmp_path):
    """Bloom-indexed point lookup: `read(eq=...)` must return exactly
    the matching rows AND provably open fewer files than the snapshot
    holds — min/max can't help here because every appended batch spans
    the full key range (interleaved keys), so any skipping observed is
    the bloom's."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=4, bloom_cols=("k", "tag"),
    )
    # two appends, each covering the whole numeric range → overlapping
    # min/max on every file; distinct string keys per file via tag
    t.append(spark.createDataFrame(
        [(i, f"tag{i}", i * 10, 1) for i in range(0, 200, 2)],
        "k long, tag string, v long, ver long",
    ))
    t.append(spark.createDataFrame(
        [(i, f"tag{i}", i * 10, 1) for i in range(1, 200, 2)],
        "k long, tag string, v long, ver long",
    ))
    rep = t.prune_report({}, eq={"tag": "tag42"})
    assert rep["files_total"] == 8
    # tag42 lives in exactly one append wave and one bucket; bloom must
    # skip most files (conservatively allow a false positive or two)
    assert rep["files_read"] <= 3
    got = t.read(eq={"tag": "tag42"}).collect()
    assert [(r["k"], r["v"]) for r in got] == [(42, 420)]
    # long-typed key lookup too
    got = t.read(eq={"k": 43}).collect()
    assert [(r["tag"], r["v"]) for r in got] == [("tag43", 430)]
    # absent value: zero files opened, empty exact result
    rep = t.prune_report({}, eq={"tag": "no-such-tag"})
    assert rep["files_read"] == 0
    assert t.read(eq={"tag": "no-such-tag"}).count() == 0


def test_bloom_survives_rewrites_and_checkpoint(spark, tmp_path):
    """Compaction restages files → blooms must be recomputed for the
    new files; checkpointed replay must preserve them; a merge that
    deletes a key's only row must stop matching after compact (the
    bloom is per-file, so pre-compact the old file still says maybe —
    conservative, filtered row-level)."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, bloom_cols=("k",),
    )
    for wave in range(3):
        t.append(spark.createDataFrame(
            [(wave * 100 + i, wave, 1) for i in range(50)],
            "k long, v long, ver long",
        ))
    t.compact()
    _, live, _, _ = t._replay()
    assert all("bloom" in e and "k" in e["bloom"] for e in live.values())
    # post-compact: a key now lives in exactly its bucket's single file
    rep = t.prune_report({}, eq={"k": 142})
    assert rep["files_total"] == 2 and rep["files_read"] == 1
    assert [r["v"] for r in t.read(eq={"k": 142}).collect()] == [1]
    # checkpoint replay path carries the bitmaps
    t.checkpoint()
    t.append(spark.createDataFrame([(999, 9, 1)], "k long, v long, ver long"))
    rep2 = t.prune_report({}, eq={"k": 142})
    assert rep2["files_read"] == 1
    # delete the key; merge-on-read DV keeps the file but the row is gone
    t.delete_where("k = 142", mode="merge_on_read")
    assert t.read(eq={"k": 142}).count() == 0


def test_bloom_unsupported_types_and_unindexed_cols_keep_files(spark, tmp_path):
    """eq on a column without a bloom (or a float value) must never
    skip a file wrongly — missing index degrades to row-level filter
    over min/max-surviving files only."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, bloom_cols=("k",),
    )
    t.append(spark.createDataFrame(
        [(i, float(i) / 4, 1) for i in range(40)],
        "k long, f double, ver long",
    ))
    # f is not bloom-indexed: correctness via row filter
    assert [r["k"] for r in t.read(eq={"f": 2.5}).collect()] == [10]
    # combined eq + range prune composes
    got = t.read(prune={"k": (0, 20)}, eq={"k": 10}).collect()
    assert [(r["k"],) for r in got] == [(10,)]


def test_isin_multivalue_point_lookup(spark, tmp_path):
    """`read(isin=...)` — the candidate-pruned fetch shape: exact rows
    for a value SET, files opened only where min/max+bloom admit at
    least one value."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=4, bloom_cols=("k", "tag"),
    )
    # interleaved keys per wave → overlapping min/max everywhere, so
    # observed skipping is the bloom's (the eq test's construction)
    t.append(spark.createDataFrame(
        [(i, f"tag{i}", i * 10, 1) for i in range(0, 200, 2)],
        "k long, tag string, v long, ver long",
    ))
    t.append(spark.createDataFrame(
        [(i, f"tag{i}", i * 10, 1) for i in range(1, 200, 2)],
        "k long, tag string, v long, ver long",
    ))
    got = t.read(isin={"k": [42, 43, 999]}).collect()
    assert sorted((r["k"], r["v"]) for r in got) == [(42, 420), (43, 430)]
    # string-typed, single-file set: bloom skip must engage
    rep = t.prune_report({}, isin={"tag": ["tag42"]})
    assert rep["files_total"] == 8 and rep["files_read"] <= 3
    # absent values only → zero files, empty exact result
    rep = t.prune_report({}, isin={"tag": ["nope-a", "nope-b"]})
    assert rep["files_read"] == 0
    assert t.read(isin={"tag": ["nope-a", "nope-b"]}).count() == 0
    # empty list = SQL IN (): matches nothing, opens nothing
    rep = t.prune_report({}, isin={"k": []})
    assert rep["files_read"] == 0
    assert t.read(isin={"k": []}).count() == 0
    # composes with prune; row-level re-application keeps it exact
    got = t.read(prune={"v": (0, 500)}, isin={"k": [10, 60, 199]}).collect()
    assert sorted(r["k"] for r in got) == [10]
    # after compact each key set maps to its buckets' files only
    t.compact()
    rep = t.prune_report({}, isin={"k": [42]})
    assert rep["files_total"] == 4 and rep["files_read"] == 1


def test_isin_partitioned_skips_partitions(spark, tmp_path):
    """isin over a partition column skips whole partitions exactly
    (the partition-value test is an invariant, not an estimate)."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, partition_by=("grp",),
    )
    t.append(spark.createDataFrame(
        [(i, i % 5, 1) for i in range(100)],
        "k long, grp long, ver long",
    ))
    rep = t.prune_report({}, isin={"grp": [1, 3]})
    assert rep["files_read"] < rep["files_total"]
    got = t.read(isin={"grp": [1, 3]})
    assert got.count() == 40
    assert sorted(r["grp"] for r in got.select("grp").distinct().collect()) == [1, 3]


def _register_txlog(spark):
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
    )

    spark.dataSource.register(TxLogStreamSource)


def test_batch_datasource_matches_table_read(spark, tmp_path):
    """`spark.read.format("txlog")` must serve exactly the snapshot
    `TxTable.read()` serves — across appends, a MERGE rewrite, a
    merge-on-read DV delete (positional masking in the DataSource
    reader), and time travel via the `version` option."""
    _register_txlog(spark)
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    v0 = t.append(spark.createDataFrame(
        [(i, i * 10, 1) for i in range(30)], "k long, v long, ver long"))
    t.merge_upsert(spark.createDataFrame(
        [(i, i * 10 + 5, 2) for i in range(0, 30, 3)],
        "k long, v long, ver long"))
    t.delete_where("k % 7 = 1", mode="merge_on_read")

    def via_ds(**opts):
        r = spark.read.format("txlog").option("tabledir", t.table_dir)
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    got = via_ds()
    latest = t.latest_version()
    assert got.columns == ["k", "v", "ver", "_commit_version"]
    assert set(r["_commit_version"] for r in got.collect()) == {latest}
    assert (
        sorted(map(tuple, got.drop("_commit_version").collect()))
        == sorted(map(tuple, t.read().collect()))
    )
    # time travel
    tt = via_ds(version=str(v0)).drop("_commit_version")
    assert sorted(map(tuple, tt.collect())) == sorted(
        map(tuple, t.read(version=v0).collect())
    )


def test_batch_datasource_filter_pushdown_skips_files(spark, tmp_path):
    from pyspark.sql import functions as F

    """Catalyst predicates reach the commit log: an equality filter on
    a bloom-indexed column must open strictly fewer files than the
    snapshot holds (observed via the skipreport option) while returning
    the exact rows; range and IN filters skip via min/max; every filter
    is re-applied row-level so results stay exact."""
    import json as _json

    _register_txlog(spark)
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=4, bloom_cols=("tag",),
    )
    # two appends, both spanning the full numeric range (min/max can't
    # distinguish them) but with disjoint tag sets (bloom can)
    t.append(spark.createDataFrame(
        [(i, f"tag{i}", 1) for i in range(0, 200, 2)],
        "k long, tag string, ver long"))
    t.append(spark.createDataFrame(
        [(i, f"tag{i}", 1) for i in range(1, 200, 2)],
        "k long, tag string, ver long"))
    rep = str(tmp_path / "rep.json")
    base = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .option("skipreport", rep)
        .load()
    )
    got = base.filter(F.col("tag") == "tag42").drop("_commit_version")
    assert [(r["k"], r["tag"]) for r in got.collect()] == [(42, "tag42")]
    skip = _json.load(open(rep))
    assert skip["files_total"] == 8
    assert skip["files_read"] <= 3  # bloom skipping, fp slack
    # IN-list: union of candidates, still skipping
    got = base.filter(F.col("tag").isin("tag42", "tag43")).count()
    assert got == 2
    assert _json.load(open(rep))["files_read"] <= 6
    # range filter prunes via min/max after a sort-layout compact
    t2 = TxTable.create(
        spark, str(tmp_path / "t2"), key_cols=("k",), order_col="k",
        n_buckets=2,
    )
    for lo in (0, 100, 200, 300):
        t2.append(spark.createDataFrame(
            [(i, 1) for i in range(lo, lo + 100)], "k long, ver long"))
    rep2 = str(tmp_path / "rep2.json")
    d2 = (
        spark.read.format("txlog")
        .option("tabledir", t2.table_dir)
        .option("skipreport", rep2)
        .load()
        .filter((F.col("k") >= 150) & (F.col("k") < 250))
    )
    assert d2.count() == 100
    skip2 = _json.load(open(rep2))
    assert skip2["files_read"] < skip2["files_total"]


def test_batch_datasource_change_feed_range(spark, tmp_path):
    """Batch CDF (`readchangefeed` + inclusive version bounds) must
    reproduce `table_changes(v)` for each commit in the range — the
    Delta `table_changes(start, end)` batch contract over the same
    partitions the stream serves."""
    _register_txlog(spark)
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    v_a = t.append(spark.createDataFrame(
        [(1, "x", 1), (2, "y", 1)], "k long, s string, ver long"))
    t.merge_upsert(spark.createDataFrame(
        [(2, "y2", 2), (3, "z", 2)], "k long, s string, ver long"))
    v_d, _ = t.delete_where("k = 1")
    feed = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .option("readchangefeed", "true")
        .option("startingversion", str(v_a))
        .option("endingversion", str(v_d))
        .load()
    )
    assert set(feed.columns) == {"k", "s", "ver", "_change_type",
                                 "_commit_version"}
    want = []
    for v in range(v_a, v_d + 1):
        want += [
            tuple(r) + (v,)
            for r in t.table_changes(v)
            .select("k", "s", "ver", "_change_type")
            .collect()
        ]
    got = [
        tuple(r)
        for r in feed.select(
            "k", "s", "ver", "_change_type", "_commit_version"
        ).collect()
    ]
    assert sorted(got, key=str) == sorted(want, key=str)
    # bounded sub-range serves only that commit's changes
    only_merge = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .option("readchangefeed", "true")
        .option("startingversion", str(v_a + 1))
        .option("endingversion", str(v_a + 1))
        .load()
    )
    assert only_merge.count() == t.table_changes(v_a + 1).count()


def test_batch_datasource_schema_evolution_null_fill(spark, tmp_path):
    """Pre-evolution files read through the DataSource NULL-fill the
    added column, exactly like `TxTable.read`."""
    _register_txlog(spark)
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t.append(spark.createDataFrame([(1, 1)], "k long, ver long"))
    t.merge_upsert(
        spark.createDataFrame([(2, 2, "new", 9.5)],
                              "k long, ver long, s string, f double"),
        merge_schema=True,
    )
    got = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .load()
        .drop("_commit_version")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, t.read().collect())
    )
    rows = {r["k"]: r for r in got.collect()}
    assert rows[1]["s"] is None and rows[2]["s"] == "new"


def test_datasource_writer_two_phase_append(spark, tmp_path):
    """`df.write.format("txlog").mode("append")` must be an atomic
    append: executor-staged files + one driver commit. The written
    rows must land in the SAME buckets the JVM bucket function
    assigns (python xxhash64 twin) — proven the way it matters: a
    later merge_upsert must FIND and update writer-written rows, and
    the per-file bucket labels must match a JVM recomputation."""
    from pyspark.sql import functions as F

    _register_txlog(spark)
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k", "s"), order_col="ver",
        n_buckets=8, bloom_cols=("s",),
    )
    df = spark.createDataFrame(
        [(i, f"s{i}", i * 10, 1) for i in range(500)],
        "k long, s string, v long, ver long",
    ).repartition(4)
    (
        df.write.format("txlog")
        .option("tabledir", t.table_dir)
        .mode("append")
        .save()
    )
    assert sorted(map(tuple, t.read().collect())) == sorted(
        map(tuple, df.collect())
    )
    # bucket labels in the log match the JVM bucket of the file's rows
    _, live, _, _ = t._replay()
    opened = t._open_files([e["path"] for e in live.values()], None, None)
    bad = (
        opened.withColumn(
            "_jvm",
            F.pmod(F.xxhash64("k", "s"), F.lit(8)),
        )
        .filter(F.col("_jvm") != F.col("_bucket"))
        .count()
    )
    assert bad == 0
    # merge finds writer-written rows (bucket-targeted rewrite)
    t.merge_upsert(spark.createDataFrame(
        [(7, "s7", 999, 2)], "k long, s string, v long, ver long"))
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[7] == 999 and got[8] == 80
    # blooms recorded by the python writer serve point lookups
    rep = t.prune_report({}, eq={"s": "s7"})
    assert rep["files_read"] < rep["files_total"]
    # overwrite mode is refused
    import pytest as _pytest

    with _pytest.raises(Exception, match="overwrite"):
        (
            df.write.format("txlog")
            .option("tabledir", t.table_dir)
            .mode("overwrite")
            .save()
        )


def test_datasource_writer_txn_idempotent_and_constraints(spark, tmp_path):
    """txnappid/txnbatchid make a replayed write a no-op (exactly-once
    convention); a CHECK-constraint violation aborts the commit with
    the table unchanged."""
    _register_txlog(spark)
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    df = spark.createDataFrame([(1, 5, 1), (2, 6, 1)],
                               "k long, v long, ver long")

    def write(frame, **opts):
        w = frame.write.format("txlog").option("tabledir", t.table_dir)
        for k, v in opts.items():
            w = w.option(k, v)
        w.mode("append").save()

    write(df, txnappid="job-a", txnbatchid="0")
    write(df, txnappid="job-a", txnbatchid="0")  # replay: no-op
    assert t.read().count() == 2
    write(df, txnappid="job-a", txnbatchid="1")  # next batch: appends
    assert t.read().count() == 4
    # constraints gate the DataSource write path too
    t.add_constraint("v_pos", "v >= 0")
    import pytest as _pytest

    with _pytest.raises(Exception, match="v_pos"):
        write(spark.createDataFrame([(9, -1, 1)],
                                    "k long, v long, ver long"))
    assert t.read().filter("v < 0").count() == 0
    # schema evolution through the writer
    write(
        spark.createDataFrame([(10, 1, 1, "x")],
                              "k long, v long, ver long, extra string"),
        mergeschema="true",
    )
    rows = {r["k"]: r["extra"] for r in t.read().collect()}
    assert rows[10] == "x" and rows[1] is None


def test_python_xxhash64_twin_matches_jvm(spark):
    """The pure-Python xxhash64 twin (writer-side bucket assignment)
    must agree with Spark's `xxhash64` expression bit-for-bit across
    every supported key type — longs (full signed range), unicode
    strings (incl. empty and >32-byte), booleans, dates, NULLs, and
    multi-column seed chaining — and `bucket_of` must agree with
    `pmod(xxhash64(...), n)`."""
    import random

    from pyspark.sql import functions as F

    from kafka_flink_harshevents_spark.sources.txlog import (
        bucket_of,
        spark_xxhash64,
    )

    random.seed(7)
    rows = []
    for i in range(300):
        k = random.randrange(-(2**62), 2**62)
        s = "".join(
            chr(random.randrange(32, 0x2FF))
            for _ in range(random.randrange(0, 80))
        )
        b = random.random() < 0.5
        d = datetime.date(2000 + i % 30, 1 + i % 12, 1 + i % 28)
        rows.append((k, s, b, d, None if i % 7 == 0 else i))
    df = spark.createDataFrame(
        rows, "k long, s string, b boolean, d date, n long"
    )
    got = df.select(
        F.xxhash64("k", "s", "b", "d", "n").alias("h"),
        F.pmod(F.xxhash64("k", "s"), F.lit(16)).alias("bk"),
    ).collect()
    for r, row in zip(rows, got):
        assert spark_xxhash64(list(r)) == row["h"]
        assert bucket_of([r[0], r[1]], 16) == row["bk"]


def test_vacuum_reclaims_dead_cdf_files(spark, tmp_path):
    """cdf=True tables must not leak change files forever: vacuum
    reclaims _cdf-* files of commits OLDER than the oldest retained
    snapshot, keeps feeds in the retained range serveable, and applies
    the staged-orphan grace window to never-committed _cdf trees."""
    import glob as _glob

    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    t.append(spark.createDataFrame(
        [(i, i, 1) for i in range(10)], "k long, v long, ver long"))
    v_d1, _ = t.delete_where("k = 1")           # cdf files (old)
    t.merge_upsert(spark.createDataFrame(
        [(2, 99, 2)], "k long, v long, ver long"))
    v_d2, _ = t.delete_where("k = 3")           # cdf files (recent)
    n_before = len(_glob.glob(str(tmp_path / "t" / "_cdf-*" / "*.parquet")))
    assert n_before >= 3
    # retain only the last 2 snapshots: v_d1's and the merge's feeds
    # predate the oldest retained snapshot -> reclaimed
    deleted = t.vacuum(retain_versions=2)
    assert any("_cdf-" in p for p in deleted)
    # the retained-range feed still serves
    assert t.table_changes(v_d2).count() > 0
    # the vacuumed feed is gone from disk
    n_after = len(_glob.glob(str(tmp_path / "t" / "_cdf-*" / "*.parquet")))
    assert n_after < n_before
    # an orphaned (never-committed) _cdf tree: fresh -> kept, aged -> gone
    orphan = tmp_path / "t" / "_cdf-deadbeef"
    orphan.mkdir()
    (orphan / "x.parquet").write_bytes(b"junk")
    t.vacuum(retain_versions=1)
    assert orphan.exists()  # inside grace window
    os.utime(orphan, (1, 1))
    t.vacuum(retain_versions=1)
    assert not orphan.exists()


def test_rebucket_evolves_bucket_count(spark, tmp_path):
    """rebucket(): layout-only multiset-preserving commit that patches
    n_buckets via a replayed meta_update — later writes bucket under
    the new modulus (labels JVM-verified), merges still find every
    row, time travel sees the old layout, the stream skips the commit,
    and checkpoints carry the merged meta."""
    from pyspark.sql import functions as F

    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(i, i, 1) for i in range(100)], "k long, v long, ver long"))
    v_pre = t.latest_version()
    before = sorted(map(tuple, t.read().collect()))
    v_rb = t.rebucket(8)
    assert t.meta["n_buckets"] == 8
    assert sorted(map(tuple, t.read().collect())) == before  # multiset
    # files are labeled under the new modulus, and labels are truthful
    _, live, _, _ = t._replay()
    assert {e["bucket"] for e in live.values()} <= set(range(8))
    opened = t._open_files([e["path"] for e in live.values()], None, None)
    assert opened.withColumn(
        "_jvm", F.pmod(F.xxhash64("k"), F.lit(8))
    ).filter("_jvm != _bucket").count() == 0
    # merge + append after the rebucket use the new modulus and hit
    t.merge_upsert(spark.createDataFrame(
        [(5, 999, 2)], "k long, v long, ver long"))
    t.append(spark.createDataFrame(
        [(200, 200, 1)], "k long, v long, ver long"))
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[5] == 999 and got[200] == 200 and len(got) == 101
    # time travel before the rebucket: old layout, same rows
    assert sorted(map(tuple, t.read(version=v_pre).collect())) == before
    assert t.meta_at(v_pre)["n_buckets"] == 2
    # idempotent no-op
    assert t.rebucket(8) == t.latest_version()
    # checkpoint carries the merged meta (replay from checkpoint)
    t.checkpoint()
    assert t.meta["n_buckets"] == 8
    # streaming source: the rebucket commit streams nothing
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
    )

    spark.dataSource.register(TxLogStreamSource)
    feed = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .option("readchangefeed", "true")
        .option("startingversion", str(v_rb))
        .option("endingversion", str(v_rb))
        .load()
    )
    assert feed.count() == 0


def test_append_restages_after_rebucket_race(spark, tmp_path, monkeypatch):
    """An append that staged files under the old bucket modulus and
    then LOSES the commit race to a rebucket must RESTAGE under the
    new modulus on retry — committing the stale labels would let rows
    silently escape later merges."""
    import kafka_flink_harshevents_spark.sources.txlog as tx
    from pyspark.sql import functions as F

    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(i, i, 1) for i in range(20)], "k long, v long, ver long"))
    real = tx._atomic_commit
    state = {"fired": False}

    def racy(table_dir, version, record):
        if record.get("op") == "append" and not state["fired"]:
            state["fired"] = True
            # a concurrent writer rebuckets FIRST, stealing the version
            tx.TxTable(spark, table_dir).rebucket(8)
        return real(table_dir, version, record)

    monkeypatch.setattr(tx, "_atomic_commit", racy)
    t.append(spark.createDataFrame(
        [(100 + i, i, 1) for i in range(20)], "k long, v long, ver long"))
    monkeypatch.setattr(tx, "_atomic_commit", real)
    assert state["fired"] and t.meta["n_buckets"] == 8
    # every live file's labels are truthful under the NEW modulus
    _, live, _, _ = t._replay()
    opened = t._open_files([e["path"] for e in live.values()], None, None)
    assert opened.withColumn(
        "_jvm", F.pmod(F.xxhash64("k"), F.lit(8))
    ).filter("_jvm != _bucket").count() == 0
    # and a merge on a raced-append key actually replaces the row
    t.merge_upsert(spark.createDataFrame(
        [(110, 888, 2)], "k long, v long, ver long"))
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[110] == 888 and len(got) == 40


def test_partial_compact_bin_packing(spark, tmp_path):
    """compact(small_file_rows=N): only fragmentation rewrites — small
    files merge per bucket, big files carry forward byte-identical,
    DV-carrying files materialize their vectors, and untouched
    buckets' vectors keep applying. Cost ∝ fragmented bytes."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    # one BIG append (per-bucket files >= threshold) ...
    t.append(spark.createDataFrame(
        [(i, i, 1) for i in range(2000)], "k long, v long, ver long"))
    _, live0, _, _ = t._replay()
    big_paths = set(live0)
    # ... then several small appends (fragmentation)
    for w in range(3):
        t.append(spark.createDataFrame(
            [(10_000 + w * 10 + i, w, 1) for i in range(6)],
            "k long, v long, ver long"))
    before = sorted(map(tuple, t.read().collect()))
    _, live1, _, _ = t._replay()
    assert len(live1) > len(big_paths) + 4  # fragmented
    v = t.compact(small_file_rows=500)
    _, live2, _, _ = t._replay()
    # big files untouched byte-for-byte (same paths still live)
    assert big_paths <= set(live2)
    # small files merged: at most one extra file per bucket now
    assert len(live2) <= len(big_paths) + 2
    assert sorted(map(tuple, t.read().collect())) == before
    # nothing fragmented anymore -> no-op, no new commit
    assert t.compact(small_file_rows=500) == v
    # a DV on a BIG file makes that file (alone) compaction-eligible:
    # the rewrite materializes the vector, other big files stay put
    t.delete_where("k = 5", mode="merge_on_read")
    _, _, _, dvs = t._replay()
    assert dvs  # vector recorded
    t.compact(small_file_rows=500)
    _, live3, _, dvs3 = t._replay()
    assert not dvs3  # materialized
    got = sorted(map(tuple, t.read().collect()))
    assert got == [r for r in before if r[0] != 5]
    # untouched big files from the OTHER bucket still live
    assert any(p in live3 for p in big_paths)


def test_checkpoint_carries_constraints_and_txn_marks(spark, tmp_path):
    """constraints() and last_committed_batch() replay from the newest
    checkpoint (they run per micro-batch in sinks — O(full log) there
    becomes per-trigger driver work): marks and rules recorded before
    a checkpoint must survive replay THROUGH it, and post-checkpoint
    commits still override."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t.append(
        spark.createDataFrame([(1, 5, 1)], "k long, v long, ver long"),
        txn={"app_id": "job-a", "batch_id": 3},
    )
    t.add_constraint("v_pos", "v >= 0")
    t.checkpoint()
    # pre-checkpoint state visible through the checkpoint
    assert t.last_committed_batch("job-a") == 3
    assert t.constraints() == {"v_pos": "v >= 0"}
    # post-checkpoint commits override
    t.append(
        spark.createDataFrame([(2, 6, 1)], "k long, v long, ver long"),
        txn={"app_id": "job-a", "batch_id": 7},
    )
    t.add_constraint("v_cap", "v <= 100")
    assert t.last_committed_batch("job-a") == 7
    assert set(t.constraints()) == {"v_pos", "v_cap"}
    # a second checkpoint folds the increments; next reads use it
    t.checkpoint()
    assert t.last_committed_batch("job-a") == 7
    assert t.last_committed_batch("other") == -1
    assert set(t.constraints()) == {"v_pos", "v_cap"}
    # time travel still sees the rules in force then
    assert t.constraints(version=2) == {}


def test_apply_cdc_mixed_ops(spark, tmp_path):
    """apply_cdc: one atomic commit resolving inserts, updates and
    DELETES with late-CDC ordering semantics — the winner per key by
    order_col decides presence, incoming beats existing on ties, and
    an out-of-order delete older than the current row is ignored."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    t.append(spark.createDataFrame(
        [(1, "a", 2), (2, "b", 2), (3, "c", 2), (4, "d", 2)],
        "k long, s string, ver long"))
    v = t.apply_cdc(spark.createDataFrame(
        [
            (2, "b2", 3, "U"),    # update
            (3, None, 3, "D"),    # delete
            (5, "e", 3, "I"),     # insert
            (4, None, 1, "D"),    # LATE delete (older than row) -> ignored
            (6, "f1", 3, "I"),    # insert then...
            (6, None, 4, "D"),    # ...deleted in the same batch
        ],
        "k long, s string, ver long, op string"))
    got = {r["k"]: (r["s"], r["ver"]) for r in t.read().collect()}
    assert got == {1: ("a", 2), 2: ("b2", 3), 4: ("d", 2), 5: ("e", 3)}
    # CDF derives the retraction and the update pair with no new cases
    ch = {(r["k"], r["_change_type"]) for r in t.table_changes(v).collect()}
    assert (3, "delete") in ch
    assert (2, "update_preimage") in ch and (2, "update_postimage") in ch
    assert (5, "insert") in ch
    assert not any(k == 4 for k, _ in ch)  # untouched key, carried row
    # delete of a missing key: no-op row-wise, still a clean commit
    t.apply_cdc(spark.createDataFrame(
        [(99, None, 9, "D")], "k long, s string, ver long, op string"))
    assert t.read().count() == 4
    # constraints gate the upsert rows (delete rows exempt)
    t.add_constraint("s_set", "s IS NOT NULL")
    import pytest as _pytest

    with _pytest.raises(Exception, match="s_set"):
        t.apply_cdc(spark.createDataFrame(
            [(7, None, 9, "I")], "k long, s string, ver long, op string"))
    t.apply_cdc(spark.createDataFrame(
        [(1, None, 9, "D")], "k long, s string, ver long, op string"))
    assert sorted(r["k"] for r in t.read().collect()) == [2, 4, 5]


def test_cdc_sink_streaming_exactly_once(spark, tmp_path):
    """cdc_sink: a live I/U/D change stream maintains the keyed table
    through foreachBatch, exactly-once — replayed batches are no-ops,
    and the final state equals the batch CDC resolution of the full
    change sequence (deletes included)."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k long, s string, ver long"))
    sink = t.cdc_sink(app_id="cdc1")
    b1 = spark.createDataFrame(
        [(2, "b2", 2, "U"), (3, "c", 2, "I")],
        "k long, s string, ver long, op string")
    sink(b1, 0)
    v_after = t.latest_version()
    sink(b1, 0)  # checkpoint-recovery replay: no-op
    assert t.latest_version() == v_after
    sink(spark.createDataFrame(
        [(1, None, 3, "D"), (3, "c2", 3, "U")],
        "k long, s string, ver long, op string"), 1)
    got = {r["k"]: r["s"] for r in t.read().collect()}
    assert got == {2: "b2", 3: "c2"}
    # end-to-end through a real stream: file source -> foreachBatch
    src = tmp_path / "chg"
    src.mkdir()
    spark.createDataFrame(
        [(2, None, 4, "D"), (4, "d", 4, "I")],
        "k long, s string, ver long, op string",
    ).coalesce(1).write.json(str(src / "w1.json"))
    q = (
        spark.readStream.schema("k long, s string, ver long, op string")
        .json(str(src) + "/*.json")
        .writeStream.foreachBatch(t.cdc_sink(app_id="cdc-stream"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["k"]: r["s"] for r in t.read().collect()}
    assert got == {3: "c2", 4: "d"}


def test_update_where_merge_on_read(spark, tmp_path):
    """DV-based UPDATE: one commit = deletion vector over the old
    positions + an added file with the post-image rows; no touched
    file rewrites. Reads see the updated values, CDF emits the exact
    ± multiset, compaction materializes, and the size bound falls
    back to copy-on-write."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    t.append(spark.createDataFrame(
        [(i, i * 10, 1) for i in range(100)], "k long, v long, ver long"))
    _, live0, _, _ = t._replay()
    v, n = t.update_where(
        "k % 10 = 3", {"v": "v + 1"}, mode="merge_on_read")
    assert n == 10
    _, live1, _, dvs1 = t._replay()
    # no original file rewritten; one new file per touched bucket; DVs live
    assert set(live0) <= set(live1) and dvs1
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[3] == 31 and got[13] == 131 and got[4] == 40
    assert len(got) == 100
    # CDF: exact ± multiset for the updated rows only
    ch = [(r["k"], r["v"], r["_change_type"])
          for r in t.table_changes(v).collect()]
    assert (3, 30, "delete") in ch and (3, 31, "insert") in ch
    assert len(ch) == 20
    # compact materializes the vectors; values survive
    t.compact()
    _, _, _, dvs2 = t._replay()
    assert not dvs2
    assert {r["k"]: r["v"] for r in t.read().collect()} == got
    # bound fallback: tiny max_dv_rows -> copy-on-write (no dv recorded)
    v2, n2 = t.update_where(
        "k % 2 = 0", {"v": "v + 1000"}, mode="merge_on_read",
        max_dv_rows=5)
    assert n2 == 50
    rec = _read_record(t.table_dir, v2)
    assert "dv" not in rec and rec["remove"]
    got2 = {r["k"]: r["v"] for r in t.read().collect()}
    assert got2[4] == 1040 and got2[3] == 31
    # constraints gate the post-image in DV mode too
    t.add_constraint("v_cap", "v <= 100000")
    import pytest as _pytest

    with _pytest.raises(Exception, match="v_cap"):
        t.update_where("k = 1", {"v": "v + 10000000"},
                       mode="merge_on_read")


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: every commit is stamped at publish; reads and
    the DataSource resolve a wall-clock instant to the newest commit
    at or before it (skew-clamped); streams/CDF take a timestamp as
    their starting point."""
    import time as _time

    _register_txlog(spark)
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    t.append(spark.createDataFrame([(1, 1)], "k long, ver long"))
    ts_mid = _time.time()
    _time.sleep(0.05)
    t.append(spark.createDataFrame([(2, 1)], "k long, ver long"))
    v2 = t.latest_version()
    # library surface
    assert t.version_at_timestamp(ts_mid) == v2 - 1
    assert [r["k"] for r in t.read(timestamp=ts_mid).collect()] == [1]
    assert sorted(
        r["k"] for r in t.read(timestamp=_time.time()).collect()
    ) == [1, 2]
    with pytest.raises(ValueError, match="no commit"):
        t.version_at_timestamp(0.0)
    with pytest.raises(ValueError, match="not both"):
        t.read(version=1, timestamp=ts_mid)
    # DataSource snapshot read by timestamp
    got = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .option("timestamp", str(ts_mid))
        .load()
    )
    assert [r["k"] for r in got.collect()] == [1]
    # batch CDF from a timestamp: only the second append's insert
    feed = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .option("readchangefeed", "true")
        .option("startingtimestamp", str(ts_mid))
        .load()
    )
    assert [(r["k"], r["_change_type"]) for r in feed.collect()] == [
        (2, "insert")
    ]
    # skew clamp: a commit stamped in the PAST cannot rewind history
    t.append(spark.createDataFrame([(3, 1)], "k long, ver long"))
    import json as _json

    p = os.path.join(t.table_dir, "_txlog",
                     f"{t.latest_version():020d}.json")
    rec = _json.load(open(p))
    rec["ts"] = 1.0  # skewed writer clock
    _json.dump(rec, open(p, "w"))
    t.append(spark.createDataFrame([(4, 1)], "k long, ver long"))
    # the clamped sequence keeps ts_mid resolving to the same snapshot
    assert t.version_at_timestamp(ts_mid) == v2 - 1


def test_history_describes_commits(spark, tmp_path):
    """history(): newest-first audit rows with op, stamps, file/DV
    accounting, predicates and txn markers — log-only, no data reads."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t.append(
        spark.createDataFrame([(1, 1), (2, 1)], "k long, ver long"),
        txn={"app_id": "j", "batch_id": 4},
    )
    t.delete_where("k = 1", mode="merge_on_read")
    t.rebucket(4)
    h = t.history().collect()
    assert [r["version"] for r in h] == [4, 3, 2, 1]
    by_v = {r["version"]: r for r in h}
    assert by_v[1]["op"] == "create"
    assert by_v[2]["op"] == "append" and by_v[2]["txn_app"] == "j"
    assert by_v[2]["txn_batch"] == 4
    assert by_v[3]["op"] == "delete" and by_v[3]["dv_positions"] == 1
    assert by_v[3]["predicate"] == "k = 1"
    assert by_v[4]["note"] == "rebucket 2 -> 4"
    assert all(r["ts"] is not None and r["ts_iso"].endswith("Z") for r in h)
    # monotone timestamps (single writer)
    ts = [r["ts"] for r in reversed(h)]
    assert ts == sorted(ts)


def test_shallow_clone_zero_copy(spark, tmp_path):
    """SHALLOW CLONE: a metadata-only snapshot referencing the source's
    files — same data (deletion vectors included), independent writes
    (clone merges never touch the source), compact() detaches, clone
    vacuum never reclaims source files."""
    import glob as _glob

    src = TxTable.create(
        spark, str(tmp_path / "src"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    src.append(spark.createDataFrame(
        [(i, i * 10, 1) for i in range(50)], "k long, v long, ver long"))
    src.delete_where("k = 7", mode="merge_on_read")  # DV must travel
    src_files = set(_glob.glob(str(tmp_path / "src" / "_staged-*" / "*" / "*")))
    want = sorted(map(tuple, src.read().collect()))

    clone = src.clone_to(str(tmp_path / "clone"))
    # zero-copy: no data files under the clone dir yet
    assert not _glob.glob(str(tmp_path / "clone" / "_staged-*"))
    assert sorted(map(tuple, clone.read().collect())) == want  # DV applied
    # CDF of the clone commit = the visible initial state
    assert clone.table_changes(2).count() == 49
    # independent writes: clone-local staging, source untouched
    clone.merge_upsert(spark.createDataFrame(
        [(3, 999, 2)], "k long, v long, ver long"))
    clone.append(spark.createDataFrame(
        [(100, 1, 1)], "k long, v long, ver long"))
    assert sorted(map(tuple, src.read().collect())) == want
    assert set(
        _glob.glob(str(tmp_path / "src" / "_staged-*" / "*" / "*"))
    ) == src_files
    got = {r["k"]: r["v"] for r in clone.read().collect()}
    assert got[3] == 999 and got[100] == 1 and 7 not in got
    # clone vacuum never reclaims source files
    clone.checkpoint()
    clone.vacuum(retain_versions=1, grace_seconds=0.0)
    assert set(
        _glob.glob(str(tmp_path / "src" / "_staged-*" / "*" / "*"))
    ) == src_files
    assert sorted(map(tuple, src.read().collect())) == want
    # compact() detaches: no absolute reference survives
    clone.compact()
    _, live, _, _ = clone._replay()
    assert all(not os.path.isabs(p) for p in live)
    assert {r["k"]: r["v"] for r in clone.read().collect()} == got
    # refuse cloning onto a non-fresh table
    import pytest as _pytest

    with _pytest.raises(ValueError, match="fresh"):
        src.clone_to(str(tmp_path / "clone"))


def test_drop_columns_metadata_only(spark, tmp_path):
    """DROP COLUMN is metadata-only: one commit narrows the schema and
    every read projects the column out (no file rewritten); time
    travel still sees it; key/order/constrained columns refuse; the
    dropped NAME is retired (re-adding would resurrect stale values)."""
    import glob as _glob

    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(1, "x", 9.5, 1), (2, "y", 8.5, 1)],
        "k long, s string, junk double, ver long"))
    files_before = set(_glob.glob(str(tmp_path / "t" / "_staged-*" / "*" / "*")))
    v_pre = t.latest_version()
    v = t.drop_columns(("junk",))
    # metadata-only: same files on disk
    assert set(
        _glob.glob(str(tmp_path / "t" / "_staged-*" / "*" / "*"))
    ) == files_before
    assert t.read().columns == ["k", "s", "ver"]
    assert "junk" in t.read(version=v_pre).columns  # time travel
    # CDF/stream: nothing changed
    assert t.table_changes(v).count() == 0
    # writes proceed with the narrowed schema; rewrites shed the bytes
    t.merge_upsert(spark.createDataFrame(
        [(1, "x2", 2)], "k long, s string, ver long"))
    got = {r["k"]: r["s"] for r in t.read().collect()}
    assert got == {1: "x2", 2: "y"}
    # re-adding the retired name is refused on every write path
    import pytest as _pytest

    with _pytest.raises(ValueError, match="resurrect"):
        t.append(
            spark.createDataFrame(
                [(3, "z", 1.0, 1)], "k long, s string, junk double, ver long"
            ),
            merge_schema=True,
        )
    # protected columns refuse
    with _pytest.raises(ValueError, match="key/order"):
        t.drop_columns(("k",))
    t.add_constraint("s_set", "s IS NOT NULL")
    with _pytest.raises(ValueError, match="constraint"):
        t.drop_columns(("s",))


def test_datasource_writer_guards_and_empty_write(spark, tmp_path):
    """Plan-vs-commit guards: a rebucket or constraint change landing
    between the writer's planning and its commit must discard the
    stage and refuse (committing would mislabel buckets / admit
    unchecked rows). Also: an all-empty write commits cleanly with no
    files."""
    import glob as _glob

    import pyarrow as pa

    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogBatchWriter,
        _TxWriteMessage,
    )

    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t.append(spark.createDataFrame([(1, 1, 1)], "k long, v long, ver long"))
    schema = t.read().schema

    def staged_writer():
        w = TxLogBatchWriter({"tabledir": t.table_dir}, schema, False)
        batch = pa.RecordBatch.from_pydict(
            {"k": [10, 11], "v": [1, 2], "ver": [1, 1]}
        )
        msg = w.write(iter([batch]))
        assert msg.entries
        return w, msg

    # rebucket between plan and commit -> refused, stage reclaimed
    w, msg = staged_writer()
    t.rebucket(8)
    with pytest.raises(RuntimeError, match="rebucketed"):
        w.commit([msg])
    assert not _glob.glob(os.path.join(t.table_dir, w.staged, "*"))
    assert t.read().count() == 1
    # constraint change between plan and commit -> refused
    w, msg = staged_writer()
    t.add_constraint("v_pos", "v >= 0")
    with pytest.raises(RuntimeError, match="constraints changed"):
        w.commit([msg])
    assert t.read().count() == 1
    # clean write still works after both guards fired
    w, msg = staged_writer()
    w.commit([msg])
    assert t.read().count() == 3
    # empty write: no entries, clean commit, schema intact
    w2 = TxLogBatchWriter({"tabledir": t.table_dir}, schema, False)
    w2.commit([_TxWriteMessage([])])
    assert t.read().count() == 3
    # abort reclaims a stage
    w3, _ = staged_writer()
    w3.abort([])
    assert not _glob.glob(os.path.join(t.table_dir, w3.staged, "*"))


def test_clone_serves_through_datasource_feeds(spark, tmp_path):
    """A clone's initial commit must serve through the DataSource CDF
    (as masked inserts — parity with library table_changes) and
    through an ignorechanges stream without resurrecting rows its
    cloned deletion vectors hide."""
    _register_txlog(spark)
    src = TxTable.create(
        spark, str(tmp_path / "src"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    src.append(spark.createDataFrame(
        [(i, i, 1) for i in range(20)], "k long, v long, ver long"))
    src.delete_where("k = 3", mode="merge_on_read")
    clone = src.clone_to(str(tmp_path / "clone"))
    # batch CDF over the clone commit: 19 masked inserts, k=3 absent
    feed = (
        spark.read.format("txlog")
        .option("tabledir", clone.table_dir)
        .option("readchangefeed", "true")
        .load()
    )
    rows = feed.collect()
    assert len(rows) == 19
    assert all(r["_change_type"] == "insert" for r in rows)
    assert 3 not in {r["k"] for r in rows}
    # ignorechanges stream over the clone: same 19 rows, no resurrection
    got = (
        spark.read.format("txlog")
        .option("tabledir", clone.table_dir)
        .load()
    )
    assert got.count() == 19 and 3 not in {r["k"] for r in got.collect()}
    import uuid as _uuid

    name = f"cl_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("txlog")
        .option("tabledir", clone.table_dir)
        .option("ignorechanges", "true")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        srows = spark.table(name).collect()
    finally:
        q.stop()
    assert len(srows) == 19 and 3 not in {r["k"] for r in srows}


def test_clone_inherits_retired_column_names(spark, tmp_path):
    """A clone of a table with dropped columns must keep the names
    retired: its referenced files still physically carry the column,
    so re-adding the name in the clone would resurrect stale values."""
    src = TxTable.create(
        spark, str(tmp_path / "src"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    src.append(spark.createDataFrame(
        [(1, "secret", 1)], "k long, pii string, ver long"))
    src.drop_columns(("pii",))
    clone = src.clone_to(str(tmp_path / "clone"))
    assert clone.read().columns == ["k", "ver"]
    assert clone.meta.get("dropped_cols") == ["pii"]
    with pytest.raises(ValueError, match="resurrect"):
        clone.append(
            spark.createDataFrame(
                [(2, "leak", 1)], "k long, pii string, ver long"
            ),
            merge_schema=True,
        )


_new_ops = st.lists(
    st.one_of(
        # CDC batch: per key an I/U (upsert) or D (retract)
        st.lists(
            st.tuples(st.integers(0, 7), st.sampled_from(["U", "D"])),
            min_size=1, max_size=4, unique_by=lambda t: t[0],
        ),
        st.sampled_from(["dvdel", "dvupd", "rebucket2", "rebucket8",
                         "compact_small"]),
    ),
    min_size=1,
    max_size=7,
)


@given(ops=_new_ops, target=st.integers(0, 7))
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_txlog_model_property_new_ops(spark, tmp_path_factory, ops, target):
    """Model-based property over the ROUND-5 write surface: any
    interleaving of CDC batches (upserts + retractions), merge-on-read
    DV deletes and DV updates, bucket-count evolution and partial
    compaction keeps the snapshot equal to a dict model after every
    commit, and the final compaction (vector materialization + layout
    change) preserves it exactly."""
    tmp = tmp_path_factory.mktemp("txprop2")
    t = TxTable.create(
        spark, str(tmp / "t"), key_cols=("k",), order_col="ver",
        n_buckets=4,
    )
    t.append(spark.createDataFrame(
        [(f"k{i}", i * 100, 0) for i in range(4)],
        "k string, v long, ver long"))
    model = {f"k{i}": (i * 100, 0) for i in range(4)}
    ver = 0
    for op in ops:
        if op == "dvdel":
            t.delete_where(f"k = 'k{target}'", mode="merge_on_read")
            model.pop(f"k{target}", None)
        elif op == "dvupd":
            if f"k{target}" in model:
                t.update_where(
                    f"k = 'k{target}'", {"v": "v + 7"},
                    mode="merge_on_read",
                )
                v0, kv = model[f"k{target}"]
                model[f"k{target}"] = (v0 + 7, kv)
        elif op == "rebucket2":
            t.rebucket(2)
        elif op == "rebucket8":
            t.rebucket(8)
        elif op == "compact_small":
            t.compact(small_file_rows=10)
        else:  # CDC batch
            rows = []
            for ki, kind in op:
                ver += 1
                rows.append((f"k{ki}", ki * 1000 + ver, ver, kind))
                if kind == "D":
                    model.pop(f"k{ki}", None)
                else:
                    model[f"k{ki}"] = (ki * 1000 + ver, ver)
            t.apply_cdc(spark.createDataFrame(
                rows, "k string, v long, ver long, op string"))
        assert _rows(t) == model
    t.compact()
    assert _rows(t) == model


def test_generated_columns_computed_and_enforced(spark, tmp_path):
    """GENERATED ALWAYS AS: writes lacking the column get it computed;
    writes carrying diverging values are refused; updates may not
    assign it; its per-file stats serve pruning like any column; the
    DataSource writer refuses the table with a pointer to the library
    path."""
    _register_txlog(spark)
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
        generated_cols={"day": "CAST(ts AS DATE)"},
    )
    t.append(spark.createDataFrame(
        [(1, datetime.datetime(2026, 1, 5, 10), 1),
         (2, datetime.datetime(2026, 3, 9, 23), 1)],
        "k long, ts timestamp, ver long"))
    got = {r["k"]: str(r["day"]) for r in t.read().collect()}
    assert got == {1: "2026-01-05", 2: "2026-03-09"}
    # merge computes it too (frame lacks the column)
    t.merge_upsert(spark.createDataFrame(
        [(2, datetime.datetime(2026, 7, 1, 1), 2)],
        "k long, ts timestamp, ver long"))
    got = {r["k"]: str(r["day"]) for r in t.read().collect()}
    assert got[2] == "2026-07-01"
    # a diverging explicit value is refused
    with pytest.raises(ValueError, match="GENERATED ALWAYS AS"):
        t.append(spark.createDataFrame(
            [(3, datetime.datetime(2026, 1, 1), datetime.date(1999, 1, 1), 1)],
            "k long, ts timestamp, day date, ver long"))
    # a CONSISTENT explicit value passes (idempotent re-ingest)
    t.append(spark.createDataFrame(
        [(3, datetime.datetime(2026, 2, 2), datetime.date(2026, 2, 2), 1)],
        "k long, ts timestamp, day date, ver long"))
    assert t.read().count() == 3
    # updates cannot assign it
    with pytest.raises(ValueError, match="GENERATED"):
        t.update_where("k = 1", {"day": "DATE '2000-01-01'"})
    # stats-driven pruning on the generated column
    rep = t.prune_report(
        {"day": (datetime.date(2026, 3, 1), datetime.date(2026, 3, 31))}
    )
    assert rep["files_read"] < rep["files_total"]
    # DataSource writer refuses with guidance
    with pytest.raises(Exception, match="GENERATED"):
        (
            spark.createDataFrame(
                [(9, datetime.datetime(2026, 1, 1), 1)],
                "k long, ts timestamp, ver long",
            )
            .write.format("txlog")
            .option("tabledir", t.table_dir)
            .mode("append")
            .save()
        )


# -- round 6: declared-width hashing, generated-col lifecycle, CDC ties


def test_xxhash64_twin_int_width_dispatch(spark):
    """Spark hashes IntegerType/ShortType/ByteType via the 4-byte
    hashInt path, NOT the 8-byte long path — the scalar twin must
    follow the DECLARED type (the `types` markers), and the vectorized
    `bucket_batch` must dispatch on the Arrow width. A bare `<q` pack
    of an int-typed key would mislabel buckets and let rows silently
    escape later merges (ADVICE r05 #1)."""
    from pyspark.sql import functions as F

    from kafka_flink_harshevents_spark.sources.txlog import (
        bucket_batch,
        bucket_of,
        spark_type_marker,
        spark_xxhash64,
    )

    df = spark.range(0, 500).select(
        (F.col("id") - 250).cast("int").alias("ki"),
        (F.col("id") % 120 - 60).cast("smallint").alias("ks"),
        (F.col("id") % 250 - 125).cast("tinyint").alias("kb"),
        F.col("id").alias("kl"),
    )
    markers = [spark_type_marker(f.dataType) for f in df.schema.fields]
    assert markers == ["i4", "i4", "i4", "i8"]
    expect = df.select(
        F.xxhash64("ki", "ks", "kb", "kl").alias("h"),
        F.pmod(F.xxhash64("ki", "ks", "kb", "kl"), F.lit(16))
        .cast("long")
        .alias("bk"),
    ).collect()
    rows = df.collect()
    for r, e in zip(rows, expect):
        vals = [r["ki"], r["ks"], r["kb"], r["kl"]]
        assert spark_xxhash64(vals, types=markers) == e["h"]
        assert bucket_of(vals, 16, types=markers) == e["bk"]
        # without markers the int columns take the wrong (8-byte) path
        assert spark_xxhash64(vals) != e["h"]
    got = bucket_batch(df.toArrow(), ("ki", "ks", "kb", "kl"), 16)
    assert list(got) == [e["bk"] for e in expect]


def test_bucket_batch_matches_jvm_across_types(spark):
    """Vectorized bucket assignment parity with `pmod(xxhash64(...),n)`
    across every supported key type — ints of all widths, longs,
    unicode strings, booleans, dates, timestamps — with NULLs carrying
    the running seed through, exactly like the JVM."""
    from pyspark.sql import functions as F

    from kafka_flink_harshevents_spark.sources.txlog import bucket_batch

    df = spark.range(0, 2000).select(
        F.when(F.col("id") % 11 == 0, None)
        .otherwise((F.col("id") * 7919 - 1000).cast("int"))
        .alias("ki"),
        F.col("id").alias("kl"),
        F.when(F.col("id") % 13 == 0, None)
        .otherwise(F.concat(F.lit("ué"), (F.col("id") % 37).cast("string")))
        .alias("kstr"),
        (F.col("id") % 2 == 0).alias("kb"),
        F.date_add(F.to_date(F.lit("2020-01-01")), (F.col("id") % 900).cast("int")).alias("kd"),
        F.timestamp_millis(F.col("id") * 1000000).alias("kt"),
        # sub-ms micros far from epoch: catches float-precision drift
        # in any seconds→micros conversion (exact int path required)
        F.timestamp_micros(
            F.col("id") * 1_000_000_000_000 + F.col("id") % 997
        ).alias("ktu"),
    )
    keys = ("ki", "kl", "kstr", "kb", "kd", "kt", "ktu")
    expect = [
        r["bk"]
        for r in df.select(
            F.pmod(F.xxhash64(*keys), F.lit(32)).cast("long").alias("bk")
        ).collect()
    ]
    got = bucket_batch(df.toArrow(), keys, 32)
    assert list(got) == expect


def test_datasource_writer_int_key_buckets_merge_correctly(spark, tmp_path):
    """The ADVICE r05 #1 failure scenario end-to-end: a table whose key
    column is INT-typed (not long), written through the DataSource
    writer, then merged through the library path. The merge trusts the
    writer's bucket labels to find rows it must rewrite — a 4-byte/
    8-byte hash-path mismatch leaves stale duplicates behind."""
    from pyspark.sql import functions as F

    _register_txlog(spark)
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=8,
    )
    base = spark.range(0, 300).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit(1).cast("long").alias("ver"),
    )
    (
        base.write.format("txlog")
        .option("tabledir", t.table_dir)
        .mode("append")
        .save()
    )
    t.merge_upsert(
        spark.range(0, 300, 3).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 10 + 5).alias("v"),
            F.lit(2).cast("long").alias("ver"),
        )
    )
    rows = t.read().collect()
    assert len(rows) == 300  # no stale duplicates
    got = {r["k"]: (r["v"], r["ver"]) for r in rows}
    for k in range(300):
        if k % 3 == 0:
            assert got[k] == (k * 10 + 5, 2), k
        else:
            assert got[k] == (k * 10, 1), k


def test_drop_generated_column_retires_rule(spark, tmp_path):
    """Dropping a GENERATED column must retire its generation rule
    with it (meta_update narrows generated_cols) — otherwise every
    later write re-adds the retired name and is refused by the
    resurrection guard, leaving the table permanently unwritable
    (ADVICE r05 #2)."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, generated_cols={"band": "CAST(v % 10 AS BIGINT)"},
    )
    t.append(spark.createDataFrame(
        [(1, 17, 1), (2, 23, 1)], "k long, v long, ver long"))
    assert {r["band"] for r in t.read().collect()} == {7, 3}
    t.drop_columns(("band",))
    assert "band" not in t.meta.get("generated_cols", {})
    assert "band" not in t.read().columns
    # the table stays writable: append and merge no longer compute it
    t.append(spark.createDataFrame([(3, 31, 1)], "k long, v long, ver long"))
    t.merge_upsert(spark.createDataFrame(
        [(1, 99, 2)], "k long, v long, ver long"))
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: 99, 2: 23, 3: 31}
    # the name stays retired (resurrection guard unchanged)
    with pytest.raises(ValueError, match="band"):
        t.append(spark.createDataFrame(
            [(4, 1, 5, 1)], "k long, v long, band long, ver long"),
            merge_schema=True)
    # time travel before the drop still shows the generated values
    assert "band" in t.read(version=2).columns


def test_drop_base_of_generated_column_refused(spark, tmp_path):
    """Dropping a BASE column a surviving generated expression
    references is refused (the rule would be uncomputable and every
    write would fail analysis) — unless the generated column is
    dropped in the same call."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, generated_cols={"band": "CAST(v % 10 AS BIGINT)"},
    )
    t.append(spark.createDataFrame([(1, 17, 1)], "k long, v long, ver long"))
    with pytest.raises(ValueError, match="GENERATED"):
        t.drop_columns(("v",))
    # dropping both together is fine: the rule retires with the column
    t.drop_columns(("v", "band"))
    assert t.read().columns == ["k", "ver"]
    t.append(spark.createDataFrame([(2, 1)], "k long, ver long"))
    assert t.read().count() == 2


def test_clone_propagates_generated_cols(spark, tmp_path):
    """clone_to must carry generated_cols (ADVICE r05 #3): the clone
    computes the column for frames that lack it and refuses diverging
    values, exactly like the source."""
    src = TxTable.create(
        spark, str(tmp_path / "src"), key_cols=("k",), order_col="ver",
        n_buckets=2, generated_cols={"band": "CAST(v % 10 AS BIGINT)"},
    )
    src.append(spark.createDataFrame(
        [(1, 17, 1)], "k long, v long, ver long"))
    clone = src.clone_to(str(tmp_path / "clone"))
    assert clone.meta.get("generated_cols") == {
        "band": "CAST(v % 10 AS BIGINT)"
    }
    clone.merge_upsert(spark.createDataFrame(
        [(2, 23, 1)], "k long, v long, ver long"))
    got = {r["k"]: r["band"] for r in clone.read().collect()}
    assert got == {1: 7, 2: 3}
    with pytest.raises(ValueError, match="GENERATED ALWAYS AS"):
        clone.append(spark.createDataFrame(
            [(3, 1, 99, 1)], "k long, v long, band long, ver long"))
    # the source is untouched
    assert {r["k"] for r in src.read().collect()} == {1}


def test_apply_cdc_equal_order_ties_deterministic(spark, tmp_path):
    """Two incoming changes for one key at EQUAL order_col must resolve
    deterministically (ADVICE r05 #4): a delete beats an upsert at the
    same sequence number, and replaying the same batch onto an
    identical table converges to the identical state."""
    def build(d):
        t = TxTable.create(
            spark, str(tmp_path / d), key_cols=("k",), order_col="ver",
            n_buckets=2,
        )
        t.append(spark.createDataFrame(
            [(1, 10, 1), (2, 20, 1), (3, 30, 1)],
            "k long, v long, ver long"))
        return t

    # delete + update for k=1 at the same ver: delete wins
    batch = spark.createDataFrame(
        [(1, 99, 2, "U"), (1, 10, 2, "D"),
         # two equal-rank upserts for k=2: stable content-hash winner
         (2, 41, 2, "U"), (2, 42, 2, "U")],
        "k long, v long, ver long, op string",
    )
    states = []
    for d in ("a", "b"):
        t = build(d)
        t.apply_cdc(batch)
        states.append(sorted(map(tuple, t.read().collect())))
    assert states[0] == states[1]  # replay-deterministic
    keys = {r[0] for r in states[0]}
    assert 1 not in keys  # delete won the tie
    assert 3 in keys
    v2 = [r for r in states[0] if r[0] == 2][0][1]
    assert v2 in (41, 42)
    # a second replay of the SAME batch over the post-state is a no-op
    t = build("c")
    t.apply_cdc(batch)
    before = sorted(map(tuple, t.read().collect()))
    t.apply_cdc(batch)
    assert sorted(map(tuple, t.read().collect())) == before


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.data())
@pytest.mark.slow
def test_bucket_batch_property_matches_scalar_twin(data):
    """Property: the vectorized numpy bucket assignment equals the
    scalar twin (whose JVM parity is pinned separately) for ANY mix of
    typed key columns — extreme ints at both 4- and 8-byte declared
    widths, unicode/empty strings, bools, dates, timestamps, NULLs in
    any position. No Spark session needed: the scalar twin is the
    reference."""
    import pyarrow as pa

    from kafka_flink_harshevents_spark.sources.txlog import (
        bucket_batch,
        bucket_of,
    )

    n = data.draw(st.integers(min_value=0, max_value=40))

    col_kinds = data.draw(
        st.lists(
            st.sampled_from(["i32", "i64", "str", "bool", "date", "ts"]),
            min_size=1,
            max_size=4,
        )
    )

    def draw_col(kind):
        if kind == "i32":
            vals = st.one_of(
                st.none(),
                st.integers(min_value=-(2**31), max_value=2**31 - 1),
            )
            return pa.int32(), "i4", vals
        if kind == "i64":
            vals = st.one_of(
                st.none(),
                st.integers(min_value=-(2**63), max_value=2**63 - 1),
            )
            return pa.int64(), "i8", vals
        if kind == "str":
            return pa.string(), None, st.one_of(st.none(), st.text(max_size=40))
        if kind == "bool":
            return pa.bool_(), None, st.one_of(st.none(), st.booleans())
        if kind == "date":
            return (
                pa.date32(),
                None,
                st.one_of(
                    st.none(),
                    st.dates(
                        min_value=datetime.date(1900, 1, 1),
                        max_value=datetime.date(2200, 1, 1),
                    ),
                ),
            )
        return (
            pa.timestamp("us"),
            None,
            st.one_of(
                st.none(),
                st.datetimes(
                    min_value=datetime.datetime(1970, 1, 2),
                    max_value=datetime.datetime(2200, 1, 1),
                ),
            ),
        )

    arrays, markers, pycols = [], [], []
    for kind in col_kinds:
        at, marker, strat = draw_col(kind)
        col = [data.draw(strat) for _ in range(n)]
        arrays.append(pa.array(col, type=at))
        markers.append(marker)
        pycols.append(col)
    names = [f"c{i}" for i in range(len(arrays))]
    tbl = pa.table(dict(zip(names, arrays)))
    got = list(bucket_batch(tbl, tuple(names), 16))
    want = [
        bucket_of([c[i] for c in pycols], 16, types=markers)
        for i in range(n)
    ]
    assert got == want


def test_datasource_concurrent_writes_both_commit(spark, tmp_path):
    """Two simultaneous ``df.write.format("txlog")`` jobs against one
    table: the loser of the version race must RETRY from the new
    snapshot inside the writer's commit hook (optimistic concurrency,
    same contract as the library paths) — both writes land, in some
    serial order, with no lost rows and no torn state.

    Multi-threaded-driver recipe (classic PySpark): use
    ``pyspark.InheritableThread`` AND set the active session in the
    thread — a bare thread's pinned JVM thread has no active session,
    so Spark's datasource lookup never consults the session's Python
    DataSource registry and fails with DATA_SOURCE_NOT_FOUND."""
    from pyspark import InheritableThread

    _register_txlog(spark)
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=4,
    )
    errs: list = []

    def write(lo: int, hi: int) -> None:
        try:
            spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(  # noqa: E501
                spark._jsparkSession
            )
            (
                spark.range(lo, hi)
                .selectExpr(
                    "id AS k", "id * 2 AS v", "CAST(1 AS LONG) AS ver"
                )
                .write.format("txlog")
                .option("tabledir", t.table_dir)
                .mode("append")
                .save()
            )
        except Exception as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    threads = [
        InheritableThread(target=write, args=(0, 500)),
        InheritableThread(target=write, args=(500, 1000)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    assert t.latest_version() == 3  # create + two serialized appends
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(got) == 1000
    assert all(got[k] == k * 2 for k in (0, 499, 500, 999))


@pytest.mark.slow
def test_stream_maxfilespertrigger_paces_batches(spark, tmp_path):
    """`maxfilespertrigger` bounds each micro-batch to whole commits
    whose file count fits the cap: six 2-file appends with a cap of 2
    must drain as SIX one-commit batches (not one 12-file batch), with
    no row lost or duplicated; an uncapped drain of the same table is
    one batch. A commit BIGGER than the cap still serves (progress
    guarantee)."""
    _register_txlog(spark)
    t = _mk(spark, tmp_path, n_buckets=2)
    for i in range(6):
        t.append(spark.createDataFrame(
            [(f"k{i}-{j}", i, 1) for j in range(4)],
            "k string, v long, ver long"))

    def drain(ckpt, opts):
        batches: list[set] = []

        def sink(bdf, _bid):
            rows = {(r["k"], r["_commit_version"]) for r in bdf.collect()}
            if rows:
                batches.append(rows)

        reader = (
            spark.readStream.format("txlog")
            .option("tabledir", t.table_dir)
        )
        for k_, v_ in opts.items():
            reader = reader.option(k_, v_)
        q = (
            reader.load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return batches

    capped = drain("c1", {"maxfilespertrigger": "2"})
    assert len(capped) == 6
    for b in capped:
        assert len({cv for _, cv in b}) == 1  # one commit per batch
    all_rows = set().union(*capped)
    assert len(all_rows) == 24  # nothing lost, nothing duplicated

    uncapped = drain("c2", {})
    assert len(uncapped) == 1 and set().union(*uncapped) == all_rows

    # cap smaller than one commit: whole-commit progress, still 6
    tiny = drain("c3", {"maxfilespertrigger": "1"})
    assert len(tiny) == 6 and set().union(*tiny) == all_rows

    # RESTART safety: resume the capped checkpoint after two more
    # appends — pacing must continue from the checkpointed offset
    # (no re-served commits, no lost rows), one commit per batch
    for i in (6, 7):
        t.append(spark.createDataFrame(
            [(f"k{i}-{j}", i, 1) for j in range(4)],
            "k string, v long, ver long"))
    resumed = drain("c1", {"maxfilespertrigger": "2"})
    assert len(resumed) == 2
    new_rows = set().union(*resumed)
    assert len(new_rows) == 8
    assert not (new_rows & all_rows)  # nothing re-served


@pytest.mark.slow
def test_available_now_drains_one_capped_batch_per_run(spark, tmp_path):
    """PINNED ENGINE CONTRACT (the pacing caveat in txstream.py): a
    ``Trigger.AvailableNow`` run of a PACED txlog stream drains exactly
    ONE capped batch per run. This is engine-imposed, not a reader
    choice: pyspark 4.1's ``PythonMicroBatchStream`` implements neither
    ``SupportsTriggerAvailableNow`` nor ``SupportsAdmissionControl``
    (verified by inspection — no ``reportLatestOffset``/``readLimit``
    path exists for Python sources), so MicroBatchExecution wraps the
    stream and captures the reader's paced ``latestOffset`` ONCE at
    start. Repeated AvailableNow runs against one checkpoint therefore
    step through the backlog one capped batch at a time (each run
    resumes from the committed floor), and an UNCAPPED AvailableNow
    run drains everything in one batch. If a Spark upgrade starts
    calling for more offers per AvailableNow run, this test fails —
    update the pacing docs in txstream.py and reconsider the caveat."""
    _register_txlog(spark)
    t = _mk(spark, tmp_path, n_buckets=2)
    for i in range(3):
        t.append(spark.createDataFrame(
            [(f"k{i}-{j}", i, 1) for j in range(4)],
            "k string, v long, ver long"))

    def run_once(ckpt, opts):
        batches: list[set] = []

        def sink(bdf, _bid):
            rows = {(r["k"], r["_commit_version"]) for r in bdf.collect()}
            if rows:
                batches.append(rows)

        reader = (
            spark.readStream.format("txlog")
            .option("tabledir", t.table_dir)
        )
        for k_, v_ in opts.items():
            reader = reader.option(k_, v_)
        q = (
            reader.load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return batches

    # capped: one commit (2 files ≤ cap) per RUN, three runs to drain
    seen: set = set()
    for run in range(3):
        got = run_once("ck_capped", {"maxfilespertrigger": "2"})
        assert len(got) == 1, (run, got)  # exactly one batch per run
        (batch,) = got
        assert len({cv for _, cv in batch}) == 1  # one commit
        assert not (batch & seen)
        seen |= batch
    assert len(seen) == 12  # backlog fully drained, nothing lost
    # a fourth run finds nothing new
    assert run_once("ck_capped", {"maxfilespertrigger": "2"}) == []
    # uncapped AvailableNow: the whole backlog in one batch
    full = run_once("ck_full", {})
    assert len(full) == 1 and set().union(*full) == seen


def test_stream_latest_version_tails_incrementally(spark, tmp_path):
    """`latestOffset` must track new commits appearing AFTER the reader
    was created — the incremental existence-probe path (one full
    listing on first call, O(new commits) stats per call after) has to
    agree with a fresh directory listing at every step."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamReader,
        _table_schema,
    )

    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(spark.createDataFrame([(1, 1, 1)], "k long, v long, ver long"))
    rd = TxLogStreamReader({"tabledir": t.table_dir}, _table_schema(t.table_dir))
    assert rd.latestOffset() == {"version": 2}
    for i in range(3):
        t.append(spark.createDataFrame(
            [(10 + i, 1, 1)], "k long, v long, ver long"))
        assert rd.latestOffset() == {"version": 3 + i}
    # paced reader tails the same way
    rp = TxLogStreamReader(
        {"tabledir": t.table_dir, "maxfilespertrigger": "1"},
        _table_schema(t.table_dir),
    )
    rp.initialOffset()
    offs = [rp.latestOffset()["version"] for _ in range(5)]
    assert offs == [2, 3, 4, 5, 5]  # one commit per offer, then parked
    t.append(spark.createDataFrame([(99, 1, 1)], "k long, v long, ver long"))
    assert rp.latestOffset() == {"version": 6}


def test_drop_columns_identifier_matching(spark, tmp_path):
    """The drop guards must match column IDENTIFIERS, not substrings:
    dropping column `c` is legal when an expression mentions
    `amount_c`; an expression written `V % 10` still guards column
    `v` (Spark resolves identifiers case-insensitively)."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
        generated_cols={"band": "CAST(V % 10 AS BIGINT)"},
    )
    t.append(spark.createDataFrame(
        [(1, 17, 3, 1)], "k long, v long, c long, ver long"))
    # `c` is a substring of nothing-as-identifier in the expression:
    # dropping it must NOT be refused
    t.drop_columns(("c",))
    assert "c" not in t.read().columns
    # the expression says `V`, the column is `v`: still guarded
    with pytest.raises(ValueError, match="GENERATED"):
        t.drop_columns(("v",))
    # same identifier semantics for the CHECK-constraint guard
    t2 = TxTable.create(
        spark, str(tmp_path / "t2"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t2.append(spark.createDataFrame(
        [(1, 17, 3, 1)], "k long, amount_c long, c long, ver long"))
    t2.add_constraint("pos", "AMOUNT_C > 0")
    t2.drop_columns(("c",))  # not refused by the amount_c mention
    with pytest.raises(ValueError, match="constraint"):
        t2.drop_columns(("amount_c",))  # case-insensitive guard


def test_datasource_writer_zero_row_task(spark, tmp_path):
    """A writer task handed RecordBatches that total ZERO rows must
    return an empty commit message, not crash — Spark can produce
    empty-but-present Arrow batches for a task after filtering."""
    import pyarrow as pa

    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogBatchWriter,
    )
    from pyspark.sql.types import StructType

    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame([(1, 1, 1)], "k long, v long, ver long"))
    schema = StructType.fromDDL("k long, v long, ver long")
    w = TxLogBatchWriter({"tabledir": t.table_dir}, schema, False)
    empty = pa.RecordBatch.from_arrays(
        [pa.array([], pa.int64())] * 3, names=["k", "v", "ver"]
    )
    msg = w.write(iter([empty]))
    assert msg.entries == []


def test_stream_pacing_counts_served_files_per_mode(spark, tmp_path):
    """maxfilespertrigger must count the files the MODE actually
    serves: the change feed serves a rewrite's materialized cdf files
    (not its add files); the plain stream serves add files (never cdf
    files) — otherwise batches systematically under-fill the cap."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamReader,
        _table_schema,
    )

    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    # v2: append 2 files; v3: merge touching ONE bucket (1 add file,
    # 1 cdf file); v4: append 2 files
    t.append(spark.createDataFrame(
        [(i, i, 1) for i in range(8)], "k long, v long, ver long"))
    t.merge_upsert(spark.createDataFrame(
        [(0, 99, 2)], "k long, v long, ver long"))
    t.append(spark.createDataFrame(
        [(10 + i, i, 1) for i in range(8)], "k long, v long, ver long"))

    rec3 = _read_record(t.table_dir, 3)
    assert len(rec3.get("cdf_files") or []) >= 1

    # change-feed pacing: cap 2 -> v2 alone (2 insert files), then v3
    # (its cdf files) + as much of v4 as fits
    rd = TxLogStreamReader(
        {"tabledir": t.table_dir, "readchangefeed": "true",
         "maxfilespertrigger": "2"},
        _table_schema(t.table_dir, cdf=True),
    )
    rd.initialOffset()
    first = rd.latestOffset()["version"]
    assert first == 2
    # plain stream with ignorechanges: cap 2 -> v2, then v3's single
    # add file + nothing more fits only if v4 has >1 files
    rp = TxLogStreamReader(
        {"tabledir": t.table_dir, "ignorechanges": "true",
         "maxfilespertrigger": "2"},
        _table_schema(t.table_dir),
    )
    rp.initialOffset()
    assert rp.latestOffset()["version"] == 2
    # v3 has 1 add file; v4 has 2 -> 1+2 > 2, so the next offer stops
    # at v3 (cdf files of v3 must NOT count against the plain stream)
    assert rp.latestOffset()["version"] == 3
    assert rp.latestOffset()["version"] == 4


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(st.data())
@pytest.mark.slow
def test_stream_pacing_property(spark, tmp_path_factory, data):
    """Model-based pacing property: for ANY commit history (appends of
    varying width, optional merges) and ANY cap, repeatedly calling
    latestOffset must (a) only move forward, (b) cover every commit
    exactly once when the offers are chained into batches, (c) never
    exceed the cap per batch except for a single oversized commit,
    and (d) park at the true latest."""
    tmp = tmp_path_factory.mktemp("pace")
    t = TxTable.create(
        spark, str(tmp / "t"), key_cols=("k",), order_col="ver",
        n_buckets=4,
    )
    n_commits = data.draw(st.integers(min_value=1, max_value=6))
    base_key = 0
    for _ in range(n_commits):
        width = data.draw(st.integers(min_value=1, max_value=4))
        rows = [(base_key + j, 1, 1) for j in range(width * 3)]
        base_key += width * 3
        t.append(
            spark.createDataFrame(rows, "k long, v long, ver long")
            .repartition(width)
        )
    cap = data.draw(st.integers(min_value=1, max_value=6))

    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamReader,
        _table_schema,
    )

    rd = TxLogStreamReader(
        {"tabledir": t.table_dir, "maxfilespertrigger": str(cap)},
        _table_schema(t.table_dir),
    )
    prev = rd.initialOffset()["version"]
    latest = t.latest_version()
    seen: list[tuple[int, int]] = []
    for _ in range(n_commits + 3):  # enough offers to drain
        cur = rd.latestOffset()["version"]
        assert cur >= prev  # (a) monotonic
        if cur > prev:
            seen.append((prev, cur))
        prev = cur
    assert prev == latest  # (d) drained
    # (b) chained coverage: ranges tile (start_version, latest]
    assert seen[0][0] == 0 and seen[-1][1] == latest
    for (s1, e1), (s2, e2) in zip(seen, seen[1:]):
        assert e1 == s2
    # (c) per-batch file count within cap unless the batch carries a
    # SINGLE data commit (oversized commits serve alone — progress
    # guarantee; zero-file commits like create ride along for free)
    for s, e in seen:
        per_commit = [
            len(_read_record(t.table_dir, v).get("add") or [])
            for v in range(s + 1, e + 1)
        ]
        if sum(1 for n in per_commit if n > 0) > 1:
            assert sum(per_commit) <= cap, (s, e, per_commit, cap)


def test_expr_mentions_exotic_identifiers():
    """The guard matcher must catch names with non-word edge chars
    (backtick-quoted exotics): `\\b` finds no boundary between two
    non-word characters and would silently let the drop through."""
    from kafka_flink_harshevents_spark.sources.txlog import _expr_mentions

    assert _expr_mentions("`pct%` > 0", "pct%")
    assert _expr_mentions("`a-b` + 1", "a-b")
    assert not _expr_mentions("CAST(amount_c % 97 AS BIGINT)", "c")
    assert not _expr_mentions("pct > 0", "pct%")
    assert _expr_mentions("V % 10", "v")  # case-insensitive


def test_stream_pacing_skips_layout_commits(spark, tmp_path):
    """Layout commits (compact / rebucket / zorder) serve nothing in
    either stream mode, so pacing must count them as ZERO files — a
    64-file compaction must not burn a whole trigger on an empty
    micro-batch while a real append waits behind it."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamReader,
        _table_schema,
    )

    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [(i, i, 1) for i in range(8)], "k long, v long, ver long"))  # v2
    t.compact()                                                      # v3
    t.append(spark.createDataFrame(
        [(100, 1, 1)], "k long, v long, ver long"))                  # v4
    rd = TxLogStreamReader(
        {"tabledir": t.table_dir, "maxfilespertrigger": "2",
         "ignorechanges": "true"},
        _table_schema(t.table_dir),
    )
    rd.initialOffset()
    # one offer must ride over the compact and reach the next append
    # (v2: 2 files = cap; then v3 compact rides free with v4)
    assert rd.latestOffset()["version"] == 2
    assert rd.latestOffset()["version"] == 4


def test_stream_maxbytespertrigger_paces_by_size(spark, tmp_path):
    """`maxbytespertrigger` paces on the add-entries' recorded file
    sizes: a cap of one commit's bytes drains a multi-append backlog
    one commit per offer; a huge byte cap leaves pacing to the file
    cap (or unbounded). Add-entries must carry `bytes` at stage time
    in both write paths."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamReader,
        _table_schema,
    )

    _register_txlog(spark)
    t = _mk(spark, tmp_path, n_buckets=2)
    for i in range(4):
        t.append(spark.createDataFrame(
            [(10 * i + j, j, 1) for j in range(6)],
            "k long, v long, ver long"))
    # entries record physical size (library path)
    rec = _read_record(t.table_dir, 2)
    sizes = [e.get("bytes") for e in rec["add"]]
    assert all(isinstance(b, int) and b > 0 for b in sizes)
    # the DataSource writer records bytes too
    (
        spark.createDataFrame([(100, 1, 1)], "k long, v long, ver long")
        .write.format("txlog")
        .option("tabledir", t.table_dir)
        .mode("append")
        .save()
    )
    rec_ds = _read_record(t.table_dir, t.latest_version())
    assert all(int(e.get("bytes") or 0) > 0 for e in rec_ds["add"])

    per_commit = sum(sizes)
    rd = TxLogStreamReader(
        {"tabledir": t.table_dir,
         "maxbytespertrigger": str(per_commit)},
        _table_schema(t.table_dir),
    )
    rd.initialOffset()
    offers = [rd.latestOffset()["version"] for _ in range(6)]
    # one append per offer until drained (v2..v6), then parked
    assert offers == [2, 3, 4, 5, 6, 6]
    # a byte cap far above the backlog: single offer to latest
    rd2 = TxLogStreamReader(
        {"tabledir": t.table_dir, "maxbytespertrigger": str(10**12)},
        _table_schema(t.table_dir),
    )
    rd2.initialOffset()
    assert rd2.latestOffset()["version"] == t.latest_version()
    # progress guarantee: a commit BIGGER than the byte cap serves
    # alone, one commit per offer — never a stalled offer floor
    rd3 = TxLogStreamReader(
        {"tabledir": t.table_dir,
         "maxbytespertrigger": str(per_commit // 2)},
        _table_schema(t.table_dir),
    )
    rd3.initialOffset()
    offers = [rd3.latestOffset()["version"] for _ in range(6)]
    assert offers[:5] == [2, 3, 4, 5, 6] and offers[5] == 6
    # "-1 disables this cap" composes with the other cap instead of
    # degenerating to one-commit batches
    rd4 = TxLogStreamReader(
        {"tabledir": t.table_dir, "maxfilespertrigger": "-1",
         "maxbytespertrigger": str(10**12)},
        _table_schema(t.table_dir),
    )
    rd4.initialOffset()
    assert rd4.latestOffset()["version"] == t.latest_version()


def test_stream_pacing_bytes_cover_change_feed(spark, tmp_path):
    """Rewrite commits on cdf=True tables record `cdf_bytes`, so a
    byte-only cap paces the CHANGE FEED too — one rewrite's feed per
    offer at a one-feed-sized cap."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamReader,
        _table_schema,
    )

    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    t.append(spark.createDataFrame(
        [(i, i, 1) for i in range(8)], "k long, v long, ver long"))
    for j in (2, 3, 4):
        t.merge_upsert(spark.createDataFrame(
            [(0, 100 + j, j)], "k long, v long, ver long"))
    rec = _read_record(t.table_dir, 3)
    feed_bytes = sum(rec["cdf_bytes"].values())
    assert feed_bytes > 0
    rd = TxLogStreamReader(
        {"tabledir": t.table_dir, "readchangefeed": "true",
         "maxbytespertrigger": str(feed_bytes)},
        _table_schema(t.table_dir, cdf=True),
    )
    rd.initialOffset()
    offers = [rd.latestOffset()["version"] for _ in range(5)]
    # v2 (append feed = inserts from add files) then one merge feed per
    # offer, then parked
    assert offers == [2, 3, 4, 5, 5]


def test_stream_byte_pacing_backfills_legacy_entries(spark, tmp_path):
    """A history written before add-entries recorded `bytes` must
    still pace correctly under a byte-only cap: sizes are lazily
    stat-backfilled (os.path.getsize, memoized), not counted as 0 —
    0-byte counting would admit the entire backlog in one unbounded
    first batch."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamReader,
        _table_schema,
    )

    t = _mk(spark, tmp_path, n_buckets=2)
    for i in range(4):
        t.append(spark.createDataFrame(
            [(10 * i + j, j, 1) for j in range(6)],
            "k long, v long, ver long"))
    # emulate a pre-upgrade log: strip the size fields in place
    from kafka_flink_harshevents_spark.sources.txlog import _version_path

    sizes = {}
    for v in range(2, t.latest_version() + 1):
        p = _version_path(t.table_dir, v)
        with open(p) as f:
            rec = json.load(f)
        total = 0
        for e in rec.get("add") or []:
            b = e.pop("bytes", None)
            assert b, (v, e)
            total += int(b)
        sizes[v] = total
        with open(p, "w") as f:
            json.dump(rec, f)
    per_commit = sizes[2]
    rd = TxLogStreamReader(
        {"tabledir": t.table_dir,
         "maxbytespertrigger": str(per_commit)},
        _table_schema(t.table_dir),
    )
    rd.initialOffset()
    offers = [rd.latestOffset()["version"] for _ in range(6)]
    # byte cap alone paces the legacy backlog one commit per offer
    assert offers == [2, 3, 4, 5, 5, 5]
    # the stat results are memoized per file
    assert len(rd._size_cache) > 0


def test_compact_target_bytes_binpacks_small_files(spark, tmp_path):
    """Size-aware OPTIMIZE: files below `target_bytes` bin-pack per
    bucket into ≤target-input-size bins, one output file per bin;
    already-compact files are never rewritten; the row multiset is
    preserved exactly."""
    t = _mk(spark, tmp_path, n_buckets=2)
    for i in range(6):
        t.append(spark.createDataFrame(
            [(10 * i + j, j, 1) for j in range(8)],
            "k long, v long, ver long"))
    _, live_before, _ = t._snapshot()
    sizes = [e["bytes"] for e in live_before]
    assert all(b > 0 for b in sizes)
    before_rows = _rows(t)
    files_before = len(live_before)
    # target = 3 small files' worth per bin → 2 bins per bucket
    target = max(sizes) * 3 + 1
    v = t.compact(target_bytes=target)
    _, live_after, _ = t._snapshot()
    assert len(live_after) < files_before
    # bins were capped by input size: ≥2 output files per bucket
    per_bucket: dict[int, int] = {}
    for e in live_after:
        per_bucket[e["bucket"]] = per_bucket.get(e["bucket"], 0) + 1
    assert all(n == 2 for n in per_bucket.values()), per_bucket
    assert _rows(t) == before_rows
    # every surviving file still maps rows to its recorded bucket
    rec = _read_record(t.table_dir, v)
    assert rec["op"] == "compact" and "binpack" in rec.get("note", "")
    for e in rec["add"]:
        df = spark.read.parquet(os.path.join(t.table_dir, e["path"]))
        assert df.select("_bucket").distinct().collect()[0][0] == e["bucket"]
    # merged outputs are SMALLER than their input sums, so further
    # passes may keep merging — but the policy must CONVERGE (to one
    # ≥2-input merge per bucket at most) and then no-op forever
    for _ in range(3):
        nv = t.compact(target_bytes=target)
        if nv == v:
            break
        v = nv
    assert t.compact(target_bytes=target) == v
    assert _rows(t) == before_rows


def test_compact_target_bytes_skips_compact_files_and_cleans_dvs(
    spark, tmp_path
):
    """A file at/above the target never rewrites (read amplification
    already fine); a small file carrying a deletion vector rewrites
    even alone (the rewrite materializes the vector)."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=1,
    )
    # one big file (many rows), then one small append
    t.append(spark.createDataFrame(
        [(i, i, 1) for i in range(4000)], "k long, v long, ver long"))
    _, live, _ = t._snapshot()
    big = live[0]
    t.append(spark.createDataFrame(
        [(9001, 1, 1)], "k long, v long, ver long"))
    # target below the big file's size: only candidates are smalls,
    # and ONE lone small file without a DV is a no-gain bin → no-op
    v0 = t.latest_version()
    assert t.compact(target_bytes=big["bytes"]) == v0
    # delete one row from the big file → DV; now the big file is a
    # candidate despite its size and rewrites, materializing the DV
    t.delete_where("k = 5")
    before = _rows(t)
    v = t.compact(target_bytes=big["bytes"])
    assert v > v0
    assert _rows(t) == before
    _, _, _, dvs = t._replay()
    assert not dvs  # vector materialized away
    with pytest.raises(ValueError):
        t.compact(small_file_rows=10, target_bytes=100)


def test_drop_columns_recomputes_meta_on_concurrent_retry(
    spark, tmp_path, monkeypatch
):
    """Two concurrent drop_columns each retiring a DIFFERENT generated
    column: the loser's retry must rebuild `meta_update` from the
    fresh post-race meta, not its pre-race snapshot — a stale
    snapshot would re-declare the other writer's dropped generated
    column, and later writes would re-inject a retired column."""
    import kafka_flink_harshevents_spark.sources.txlog as txmod

    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
        generated_cols={"g1": "v + 1", "g2": "v + 2"},
    )
    t.append(spark.createDataFrame(
        [(1, 10, 1), (2, 20, 1)], "k long, v long, ver long"))

    real_commit = txmod._atomic_commit
    raced = {"done": False}

    def inject(table_dir, version, record):
        if not raced["done"] and record.get("op") == "drop_columns":
            raced["done"] = True
            # a concurrent writer wins the race for this version,
            # dropping the OTHER generated column first
            TxTable(spark, t.table_dir).drop_columns(("g1",))
        return real_commit(table_dir, version, record)

    monkeypatch.setattr(txmod, "_atomic_commit", inject)
    t.drop_columns(("g2",))
    monkeypatch.setattr(txmod, "_atomic_commit", real_commit)

    meta = t.meta
    assert meta.get("generated_cols") == {}, meta
    assert sorted(meta.get("dropped_cols") or []) == ["g1", "g2"]
    # writes after the race must not re-inject a retired column
    t.append(spark.createDataFrame(
        [(3, 30, 2)], "k long, v long, ver long"))
    assert set(t.read().columns) == {"k", "v", "ver"}


def test_rename_column_bounded_retries(spark, tmp_path, monkeypatch):
    """rename_column follows the max_retries convention of every other
    mutating op: a lost race retries against fresh meta and succeeds;
    permanent contention raises ConcurrentWriteError instead of
    spinning forever — and so do drop_columns and add_constraint."""
    import kafka_flink_harshevents_spark.sources.txlog as txmod

    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [(1, 10, 1)], "k long, v long, ver long"))

    real_commit = txmod._atomic_commit
    raced = {"done": False}

    def inject(table_dir, version, record):
        if not raced["done"] and record.get("op") == "rename_column":
            raced["done"] = True
            TxTable(spark, t.table_dir).append(spark.createDataFrame(
                [(2, 20, 1)], "k long, v long, ver long"))
        return real_commit(table_dir, version, record)

    monkeypatch.setattr(txmod, "_atomic_commit", inject)
    t.rename_column("v", "val")
    monkeypatch.setattr(txmod, "_atomic_commit", real_commit)
    assert {r["k"]: r["val"] for r in t.read().collect()} == {1: 10, 2: 20}

    attempts: list[str] = []

    def always_lose(table_dir, version, record):
        op = record.get("op")
        if op in ("rename_column", "drop_columns", "set_constraints"):
            attempts.append(op)
            # give up after 50 so an unbounded loop fails, not hangs
            if len(attempts) <= 50:
                raise ConcurrentWriteError("synthetic contention")
        return real_commit(table_dir, version, record)

    monkeypatch.setattr(txmod, "_atomic_commit", always_lose)
    with pytest.raises(ConcurrentWriteError):
        t.rename_column("val", "cents", max_retries=3)
    assert attempts == ["rename_column"] * 3
    # drop_columns and add_constraint take no max_retries: they use
    # the default bound of 5 and leave the table as it was
    schema0, cons0 = t.read().schema, t.constraints()
    for op, call in (
        ("drop_columns", lambda: t.drop_columns(("val",))),
        ("set_constraints", lambda: t.add_constraint("pos", "val > 0")),
    ):
        attempts.clear()
        with pytest.raises(ConcurrentWriteError):
            call()
        assert attempts == [op] * 5
        assert t.read().schema == schema0
        assert t.constraints() == cons0


def test_one_commit_retry_path():
    """Every post-create commit goes through ``TxTable._transact``: the
    log link is called only there and in the three bootstrap commits,
    and only ``_transact`` (the retry) and ``_after_data_commit`` (the
    advisory compaction) catch ConcurrentWriteError. A new write path
    that grows its own retry loop fails here."""
    import ast

    import kafka_flink_harshevents_spark.sources.txlog as txmod

    links, catches = [], []

    def visit(node, owner):
        for child in ast.iter_child_nodes(node):
            own = owner
            if owner is None and isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                own = child.name  # the module function or method
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Name)
                and child.func.id == "_atomic_commit"
            ):
                links.append(own)
            if isinstance(child, ast.ExceptHandler) and child.type and any(
                isinstance(n, ast.Name) and n.id == "ConcurrentWriteError"
                for n in ast.walk(child.type)
            ):
                catches.append(own)
            visit(child, own)

    src_dir = os.path.dirname(txmod.__file__)
    for name in ("txlog.py", "txstream.py"):
        with open(os.path.join(src_dir, name)) as f:
            visit(ast.parse(f.read()), None)
    assert sorted(links) == [
        "_transact", "clone_to", "convert_from_parquet", "create",
    ]
    assert sorted(catches) == ["_after_data_commit", "_transact"]


def test_restore_cdf_refuses_across_type_widening(spark, tmp_path):
    """The cdf=True restore refusal compares TYPES, not just names: a
    restore across an int→long widening has no representable feed (the
    staged long pre-frame would diff against a restored int schema)
    and must be refused up front, like a rename/drop crossing."""
    from pyspark.sql import functions as F

    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    v1 = t.append(spark.createDataFrame(
        [(1, 1, 1)], "k long, v int, ver long"))
    t.append(
        spark.createDataFrame([(2, 2, 1)], "k long, v long, ver long"),
        merge_schema=True,  # int → long widening, same column names
    )
    with pytest.raises(ValueError, match="name or type"):
        t.restore(v1)


def test_rename_column_metadata_only_mixed_files(spark, tmp_path):
    """RENAME via column mapping: metadata-only (no file rewrites);
    files written BEFORE the rename (physical name = old) and AFTER
    (still the physical name) read back under the new logical name in
    one union; time travel before the rename still shows the old
    name."""
    t = _mk(spark, tmp_path, n_buckets=2)
    v1 = t.append(spark.createDataFrame(
        [(i, i * 10, 1) for i in range(6)], "k long, v long, ver long"))
    files_before = {e["path"] for e in t._snapshot()[1]}
    rv = t.rename_column("v", "val")
    # metadata-only: same live files
    assert {e["path"] for e in t._snapshot()[1]} == files_before
    # append under the NEW logical name
    t.append(spark.createDataFrame(
        [(100 + i, i * 10 + 5, 2) for i in range(3)],
        "k long, val long, ver long"))
    got = {r["k"]: r["val"] for r in t.read().collect()}
    assert got[3] == 30 and got[101] == 15 and len(got) == 9
    assert set(t.read().columns) == {"k", "val", "ver"}
    # new files physically carry the OLD (physical) name
    rec = _read_record(t.table_dir, t.latest_version())
    pdf = spark.read.parquet(
        os.path.join(t.table_dir, rec["add"][0]["path"])
    )
    assert "v" in pdf.columns and "val" not in pdf.columns
    # time travel to before the rename shows the old logical name
    assert set(t.read(version=v1).columns) == {"k", "v", "ver"}
    assert {r["k"]: r["v"] for r in t.read(version=v1).collect()}[3] == 30
    # writes through the old name now fail (schema mismatch)
    with pytest.raises(ValueError):
        t.append(spark.createDataFrame(
            [(999, 1, 3)], "k long, v long, ver long"))
    assert rv > v1


def test_rename_column_guards(spark, tmp_path):
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, bloom_cols=("st",),
        generated_cols={"g": "v + 1"},
    )
    t.append(spark.createDataFrame(
        [(1, 2, "a", 1)], "k long, v long, st string, ver long"))
    t.add_constraint("pos_ver", "ver > 0")
    with pytest.raises(ValueError):
        t.rename_column("k", "kk")        # key
    with pytest.raises(ValueError):
        t.rename_column("ver", "version")  # order + constraint
    with pytest.raises(ValueError):
        t.rename_column("st", "status")   # bloom
    with pytest.raises(ValueError):
        t.rename_column("g", "gg")        # generated
    with pytest.raises(ValueError):
        t.rename_column("v", "g")  # collision with a live logical name
    with pytest.raises(ValueError):
        t.rename_column("missing", "x")
    # legitimate rename works, then re-using the PHYSICAL name refuses
    t2 = _mk(spark, tmp_path, n_buckets=2)
    t2.append(spark.createDataFrame(
        [(1, 2, 1)], "k long, v long, ver long"))
    t2.rename_column("v", "val")
    with pytest.raises(ValueError):
        # mergeschema adding a column named like the retired physical
        t2.append(
            spark.createDataFrame(
                [(2, 3, 4, 1)], "k long, val long, v long, ver long"
            ),
            merge_schema=True,
        )
    # renaming BACK to the physical name is allowed (it's this
    # column's own physical name — files agree)
    t2.rename_column("val", "v")
    assert {r["k"]: r["v"] for r in t2.read().collect()} == {1: 2}


def test_rename_column_merge_prune_and_clone(spark, tmp_path):
    """After a rename: merges resolve correctly, stats-based pruning
    still skips files (stats are keyed by physical name), and a clone
    inherits the mapping."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [(i, i * 10, 1) for i in range(10)], "k long, v long, ver long"))
    t.rename_column("v", "val")
    t.merge_upsert(spark.createDataFrame(
        [(3, 999, 2)], "k long, val long, ver long"))
    got = _rows_named(t)
    assert got[3] == (999, 2) and got[4] == (40, 1)
    # pruning on the renamed column still skips (stats physical)
    t.append(spark.createDataFrame(
        [(1000 + i, 100000 + i, 3) for i in range(5)],
        "k long, val long, ver long"))
    rep = t.prune_report({"val": (100000, None)})
    assert rep["files_skipped"] > 0
    pruned = {r["k"] for r in t.read(prune={"val": (100000, None)}).collect()}
    assert pruned == {1000 + i for i in range(5)}
    # metadata aggregate resolves the renamed column's stats
    agg = t.metadata_aggregate(("val",))
    assert agg["cols"]["val"]["max"] == 100004
    # clone inherits the mapping and reads the source's physical files
    clone = t.clone_to(str(tmp_path / "clone"))
    cgot = _rows_named(clone)
    assert cgot[3] == (999, 2) and len(cgot) == 15


def _rows_named(t):
    return {
        r["k"]: (r["val"], r["ver"]) for r in t.read().collect()
    }


def test_rename_column_datasource_roundtrip(spark, tmp_path):
    """The format("txlog") surfaces honor column mapping: batch read
    resolves renamed logicals from physical files, the writer writes
    physical names, and the stream serves renamed columns."""
    _register_txlog(spark)
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [(i, i * 10, 1) for i in range(6)], "k long, v long, ver long"))
    t.rename_column("v", "val")
    # DataSource writer under the new logical name
    (
        spark.createDataFrame([(100, 555, 2)], "k long, val long, ver long")
        .write.format("txlog")
        .option("tabledir", t.table_dir)
        .mode("append")
        .save()
    )
    rec = _read_record(t.table_dir, t.latest_version())
    pdf = spark.read.parquet(
        os.path.join(t.table_dir, rec["add"][0]["path"])
    )
    assert "v" in pdf.columns  # physical name on disk
    # batch read through the DataSource
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    got = {
        r["k"]: r["val"]
        for r in spark.read.format("txlog")
        .option("tabledir", t.table_dir).load().collect()
    }
    assert got[3] == 30 and got[100] == 555 and len(got) == 7
    # pushed filter on the renamed column still skips files and stays
    # exact
    sub = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir).load()
        .filter("val = 555")
        .collect()
    )
    assert [r["k"] for r in sub] == [100]
    # stream serves the renamed column
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamReader,
        _partition_batches,
        _table_schema,
    )

    schema = _table_schema(t.table_dir)
    rd = TxLogStreamReader({"tabledir": t.table_dir}, schema)
    parts = rd.partitions({"version": 1}, {"version": t.latest_version()})
    rows = []
    for p in parts:
        for b in _partition_batches(p, schema):
            rows.extend(b.to_pylist())
    got_s = {r["k"]: r["val"] for r in rows}
    assert got_s[3] == 30 and got_s[100] == 555


def test_type_widening_on_append(spark, tmp_path):
    """Type widening (int→long, float→double) under merge_schema: the
    log records the WIDE type, old files keep their narrow physical
    encoding and upcast at scan time; a narrower incoming frame after
    the widening needs no schema change at all."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(1, 10, 1.5, 1)], "k long, v int, x float, ver long"))
    # widening without the flag refuses
    with pytest.raises(ValueError, match="requires merge_schema"):
        t.append(spark.createDataFrame(
            [(2, 20, 2.5, 1)], "k long, v long, x double, ver long"))
    t.append(
        spark.createDataFrame(
            [(2, 2**40, 2.5, 1)], "k long, v long, x double, ver long"),
        merge_schema=True,
    )
    df = t.read()
    assert dict(df.dtypes)["v"] == "bigint"
    assert dict(df.dtypes)["x"] == "double"
    got = {r["k"]: (r["v"], r["x"]) for r in df.collect()}
    assert got[1] == (10, 1.5) and got[2] == (2**40, 2.5)
    # a narrow frame still appends (upcast at read, no schema change)
    t.append(spark.createDataFrame(
        [(3, 30, 3.5, 1)], "k long, v int, x float, ver long"))
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[3] == 30 and len(got) == 3
    # merge across mixed-width files resolves latest-wins
    t.merge_upsert(
        spark.createDataFrame(
            [(1, 2**41, 9.0, 2)], "k long, v long, x double, ver long"),
    )
    got = {r["k"]: (r["v"], r["ver"]) for r in t.read().collect()}
    assert got[1] == (2**41, 2)
    # incompatible change still refuses
    with pytest.raises(ValueError, match="not supported"):
        t.append(
            spark.createDataFrame(
                [(4, "s", 1.0, 1)], "k long, v string, x double, ver long"
            ),
            merge_schema=True,
        )


def test_type_widening_key_column_refused(spark, tmp_path):
    """A widened KEY column would flip the width-dispatched bucket
    hash (hashInt vs hashLong paths) and silently re-bucket — refuse."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t.append(spark.createDataFrame([(1, 1, 1)], "k int, v long, ver long"))
    with pytest.raises(ValueError, match="width-dispatched"):
        t.append(
            spark.createDataFrame([(2, 2, 1)], "k long, v long, ver long"),
            merge_schema=True,
        )


def test_type_widening_datasource_read(spark, tmp_path):
    """format("txlog") over mixed-width files: the Arrow kernel casts
    narrow physical columns to the wide declared schema."""
    _register_txlog(spark)
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(1, 10, 1)], "k long, v int, ver long"))
    t.append(
        spark.createDataFrame([(2, 2**40, 1)], "k long, v long, ver long"),
        merge_schema=True,
    )
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = spark.read.format("txlog").option("tabledir", t.table_dir).load()
    assert dict(df.dtypes)["v"] == "bigint"
    got = {r["k"]: r["v"] for r in df.collect()}
    assert got == {1: 10, 2: 2**40}


def test_type_change_key_column_refused_both_directions(spark, tmp_path):
    """A key column arriving NARROWER is as dangerous as wider — the
    width-dispatched bucket hash (hashInt vs hashLong) would file the
    rows in the wrong bucket and later merges would never find them."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t.append(spark.createDataFrame([(1, 1, 1)], "k long, v long, ver long"))
    with pytest.raises(ValueError, match="width-dispatched"):
        t.append(spark.createDataFrame(
            [(2, 2, 1)], "k int, v long, ver long"))
    with pytest.raises(ValueError, match="width-dispatched"):
        t.merge_upsert(spark.createDataFrame(
            [(2, 2, 2)], "k int, v long, ver long"))


def test_rename_column_cdf_feed(spark, tmp_path):
    """Change-feed after a rename: materialized change files carry
    PHYSICAL names on disk but read back under the logical name in
    both the library (`table_changes`) and the DataSource change-feed
    reader — a mapping miss would silently NULL the renamed column for
    every CDC consumer."""
    _register_txlog(spark)
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    t.append(spark.createDataFrame(
        [(i, i * 10, 1) for i in range(6)], "k long, v long, ver long"))
    t.rename_column("v", "val")
    mv = t.merge_upsert(spark.createDataFrame(
        [(3, 999, 2)], "k long, val long, ver long"))
    # library read of the materialized feed
    feed = t.table_changes(mv)
    rows = {(r["_change_type"], r["k"]): r["val"] for r in feed.collect()}
    assert rows[("update_preimage", 3)] == 30
    assert rows[("update_postimage", 3)] == 999
    # the change file itself carries the PHYSICAL name
    rec = _read_record(t.table_dir, mv)
    raw = spark.read.parquet(
        os.path.join(t.table_dir, rec["cdf_files"][0])
    )
    assert "v" in raw.columns and "val" not in raw.columns
    # DataSource batch change feed resolves the mapping too
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    ds = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .option("readchangefeed", "true")
        .option("startingversion", str(mv))
        .option("endingversion", str(mv))
        .load()
    )
    got = {(r["_change_type"], r["k"]): r["val"] for r in ds.collect()}
    assert got[("update_preimage", 3)] == 30
    assert got[("update_postimage", 3)] == 999
    # CROSS-SURFACE NAMING CONTRACT: rename AGAIN, then re-read the
    # SAME commit through both APIs — both serve the LATEST logical
    # name (the Delta convention), not the name in force at commit
    # time, so a consumer mixing the two surfaces sees one schema
    t.rename_column("val", "cents")
    lib = t.table_changes(mv)
    assert "cents" in lib.columns and "val" not in lib.columns
    ds2 = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .option("readchangefeed", "true")
        .option("startingversion", str(mv))
        .option("endingversion", str(mv))
        .load()
    )
    assert "cents" in ds2.columns and "val" not in ds2.columns
    lrows = {(r["_change_type"], r["k"]): r["cents"] for r in lib.collect()}
    drows = {(r["_change_type"], r["k"]): r["cents"] for r in ds2.collect()}
    assert lrows == drows
    assert lrows[("update_postimage", 3)] == 999


def test_table_changes_derived_feed_serves_latest_names(spark, tmp_path):
    """The DERIVED (non-materialized) feed obeys the same latest-name
    contract: a non-CDF table's table_changes for a pre-rename commit
    serves the post-rename name — commit-logical → physical → latest-
    logical translation, not the commit-time name."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [(1, 10, 1), (2, 20, 1)], "k long, v long, ver long"))
    v = t.merge_upsert(spark.createDataFrame(
        [(1, 111, 2)], "k long, v long, ver long"))
    t.rename_column("v", "val")
    feed = t.table_changes(v)
    assert "val" in feed.columns and "v" not in feed.columns
    rows = {(r["_change_type"], r["k"]): r["val"] for r in feed.collect()}
    assert rows[("update_preimage", 1)] == 10
    assert rows[("update_postimage", 1)] == 111


def test_restore_reverts_schema_coupled_meta(spark, tmp_path):
    """RESTORE to a pre-rename/pre-rebucket version must revert the
    column mapping (stale guards would refuse writes matching the
    restored schema) and n_buckets (resurrected files carry labels
    under the old modulus — a later rebucket's modulus would mis-route
    merges)."""
    t = _mk(spark, tmp_path, n_buckets=2)
    v1 = t.append(spark.createDataFrame(
        [(i, i * 10, 1) for i in range(8)], "k long, v long, ver long"))
    t.rename_column("v", "val")
    t.rebucket(4)
    t.restore(v1)
    meta = t.meta
    assert not (meta.get("column_mapping") or {})
    assert meta["n_buckets"] == 2
    # the table is writable again under its own restored schema
    t.append(spark.createDataFrame(
        [(100, 1, 2)], "k long, v long, ver long"))
    # and merges route to the right (old-modulus) buckets
    t.merge_upsert(spark.createDataFrame(
        [(3, 999, 3)], "k long, v long, ver long"))
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[3] == 999 and got[100] == 1 and len(got) == 9
    assert sorted(t.read().columns) == ["k", "v", "ver"]


def test_datasource_time_travel_after_rename(spark, tmp_path):
    """The batch DataSource declares the LATEST logical schema even
    for time-travel reads, so the mapping must be latest too — a
    version-scoped mapping would NULL-fill the renamed column when
    reading a pre-rename snapshot."""
    _register_txlog(spark)
    t = _mk(spark, tmp_path, n_buckets=2)
    v1 = t.append(spark.createDataFrame(
        [(i, i * 10, 1) for i in range(4)], "k long, v long, ver long"))
    t.rename_column("v", "val")
    t.append(spark.createDataFrame(
        [(100, 5, 2)], "k long, val long, ver long"))
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .option("version", str(v1))
        .load()
    )
    got = {r["k"]: r["val"] for r in df.collect()}
    assert got == {0: 0, 1: 10, 2: 20, 3: 30}  # no NULL-fill


def test_delete_where_prune_translates_renamed_column(spark, tmp_path):
    """delete_where(prune=...) must keep skipping files after a rename
    (stats are keyed by physical name)."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(spark.createDataFrame(
        [(i, i, 1) for i in range(10)], "k long, v long, ver long"))
    t.append(spark.createDataFrame(
        [(100 + i, 1000 + i, 1) for i in range(10)],
        "k long, v long, ver long"))
    t.rename_column("v", "val")
    _, nrows = t.delete_where("val >= 1000", prune={"val": (1000, None)})
    assert nrows == 10
    rec = _read_record(t.table_dir, t.latest_version())
    # the low-range file was provably unmatchable and never rewritten
    assert len(rec["remove"]) == 1
    got = {r["k"] for r in t.read().collect()}
    assert got == set(range(10))


def test_restore_materializes_cdf_feed(spark, tmp_path):
    """On a cdf=True table every rewrite materializes its feed —
    restore included, or change-feed consumers hard-fail at the
    commit. The restore's feed is the row-level undo (delta between
    the pre-restore state and the restored snapshot)."""
    _register_txlog(spark)
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    v1 = t.append(spark.createDataFrame(
        [(i, i * 10, 1) for i in range(4)], "k long, v long, ver long"))
    t.merge_upsert(spark.createDataFrame(
        [(1, 999, 2)], "k long, v long, ver long"))
    rv = t.restore(v1)
    rec = _read_record(t.table_dir, rv)
    assert rec.get("cdf_files"), rec
    feed = {
        (r["_change_type"], r["k"]): r["v"]
        for r in t.table_changes(rv).collect()
    }
    # the undo (full-row multiset delta): 999 retracted, 10 restored
    assert feed[("delete", 1)] == 999
    assert feed[("insert", 1)] == 10
    # the DataSource change feed serves the restore commit
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    ds = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .option("readchangefeed", "true")
        .option("startingversion", str(rv))
        .load()
    )
    got = {(r["_change_type"], r["k"]): r["v"] for r in ds.collect()}
    assert got[("insert", 1)] == 10 and got[("delete", 1)] == 999


def test_restore_refusals(spark, tmp_path):
    """Restore refuses (a) on a cdf=True table across a schema change
    (no representable feed), and (b) when a surviving constraint
    references a column the restored schema lacks."""
    _register_txlog(spark)
    t = TxTable.create(
        spark, str(tmp_path / "a"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    v1 = t.append(spark.createDataFrame(
        [(1, 2, 1)], "k long, v long, ver long"))
    t.append(
        spark.createDataFrame([(2, 3, 4, 1)],
                              "k long, v long, w long, ver long"),
        merge_schema=True,
    )
    with pytest.raises(ValueError, match="schema change"):
        t.restore(v1)
    # non-CDF table: same program restores fine
    t2 = TxTable.create(
        spark, str(tmp_path / "b"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    v1 = t2.append(spark.createDataFrame(
        [(1, 2, 1)], "k long, v long, ver long"))
    t2.append(
        spark.createDataFrame([(2, 3, 4, 1)],
                              "k long, v long, w long, ver long"),
        merge_schema=True,
    )
    t2.add_constraint("w_pos", "w IS NULL OR w > 0")
    with pytest.raises(ValueError, match="constraint"):
        t2.restore(v1)
    t2.drop_constraint("w_pos")
    t2.restore(v1)
    assert set(t2.read().columns) == {"k", "v", "ver"}
    # writable post-restore
    t2.append(spark.createDataFrame([(5, 6, 2)], "k long, v long, ver long"))
    assert len(t2.read().collect()) == 2


def test_order_col_arrives_narrower_ok(spark, tmp_path):
    """The order column is never bucket-hashed: a frame carrying it
    narrower than the table's declared type upcasts like any data
    column (pre-widening behavior preserved); only KEY columns refuse
    width changes in both directions."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t.append(spark.createDataFrame([(1, 1, 1)], "k long, v long, ver long"))
    t.append(spark.createDataFrame([(2, 2, 2)], "k long, v long, ver int"))
    t.merge_upsert(spark.createDataFrame(
        [(1, 99, 3)], "k long, v long, ver int"))
    got = {r["k"]: (r["v"], r["ver"]) for r in t.read().collect()}
    assert got == {1: (99, 3), 2: (2, 2)}
    # widening the order column is still refused
    with pytest.raises(ValueError, match="key/order"):
        t2 = TxTable.create(
            spark, str(tmp_path / "t2"), key_cols=("k",), order_col="ver",
            n_buckets=2,
        )
        t2.append(spark.createDataFrame(
            [(1, 1, 1)], "k long, v long, ver int"))
        t2.append(
            spark.createDataFrame([(2, 2, 2)], "k long, v long, ver long"),
            merge_schema=True,
        )


def test_replace_where_overwrites_slice_atomically(spark, tmp_path):
    """replaceWhere: exactly the predicate's slice is replaced — rows
    outside it (including same-file neighbors, which rewrite as
    survivors) carry forward; untouched files are never rewritten;
    the time-travel view still shows the pre-replace state."""
    t = _mk(spark, tmp_path, n_buckets=2)
    v1 = t.append(spark.createDataFrame(
        [(i, i % 3, i * 10, 1) for i in range(12)],
        "k long, src long, v long, ver long"))
    files_v1 = {e["path"] for e in t._snapshot()[1]}
    # re-derive src=1 with new values (and a different row count)
    rv = t.replace_where(
        spark.createDataFrame(
            [(100 + i, 1, 7_000 + i, 2) for i in range(2)],
            "k long, src long, v long, ver long"),
        "src = 1",
    )
    got = {r["k"]: (r["src"], r["v"]) for r in t.read().collect()}
    old_keep = {i: (i % 3, i * 10) for i in range(12) if i % 3 != 1}
    assert got == {**old_keep, 100: (1, 7000), 101: (1, 7001)}
    # time travel still sees the original slice
    before = {r["k"] for r in t.read(version=v1).collect()}
    assert before == set(range(12))
    rec = _read_record(t.table_dir, rv)
    assert rec["op"] == "replace" and rec["predicate"] == "src = 1"
    # only files that actually held src=1 rows were removed
    assert set(rec["remove"]) <= files_v1
    # idempotent backfill: re-running the same replace converges
    t.replace_where(
        spark.createDataFrame(
            [(100 + i, 1, 7_000 + i, 2) for i in range(2)],
            "k long, src long, v long, ver long"),
        "src = 1",
    )
    assert {r["k"]: (r["src"], r["v"]) for r in t.read().collect()} == got


def test_replace_where_guards_and_edges(spark, tmp_path):
    """Incoming rows outside the predicate are refused; an empty
    matched slice degrades to a plain append; cdf=True tables
    materialize the replace's feed."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    t.append(spark.createDataFrame(
        [(1, 1, 10, 1), (2, 2, 20, 1)], "k long, src long, v long, ver long"))
    with pytest.raises(ValueError, match="do not satisfy"):
        t.replace_where(
            spark.createDataFrame(
                [(9, 2, 1, 1)], "k long, src long, v long, ver long"),
            "src = 1",
        )
    # empty slice -> plain insert
    rv = t.replace_where(
        spark.createDataFrame(
            [(5, 5, 50, 1)], "k long, src long, v long, ver long"),
        "src = 5",
    )
    rec = _read_record(t.table_dir, rv)
    assert rec["remove"] == [] and rec["add"]
    assert {r["k"] for r in t.read().collect()} == {1, 2, 5}
    # cdf feed of a real replace: old slice deleted, new inserted
    rv = t.replace_where(
        spark.createDataFrame(
            [(10, 1, 11, 2)], "k long, src long, v long, ver long"),
        "src = 1",
    )
    feed = {
        (r["_change_type"], r["k"]): r["v"]
        for r in t.table_changes(rv).collect()
    }
    assert feed[("delete", 1)] == 10 and feed[("insert", 10)] == 11


def test_replace_where_rechecks_constraints_on_retry(
    spark, tmp_path, monkeypatch
):
    """A CHECK constraint committed between replace_where's first
    attempt and its retry must gate the retry — constraints are
    re-checked per attempt (append's convention), not once up front."""
    import kafka_flink_harshevents_spark.sources.txlog as txmod
    from kafka_flink_harshevents_spark.sources.txlog import (
        ConstraintViolation,
    )

    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [(1, 1, 10, 1)], "k long, src long, v long, ver long"))

    real_commit = txmod._atomic_commit
    raced = {"done": False}

    def inject(table_dir, version, record):
        if not raced["done"] and record.get("op") == "replace":
            raced["done"] = True
            # a concurrent writer wins this version with a constraint
            # the incoming replace rows violate
            TxTable(spark, t.table_dir).add_constraint("v_pos", "v > 0")
        return real_commit(table_dir, version, record)

    monkeypatch.setattr(txmod, "_atomic_commit", inject)
    with pytest.raises(ConstraintViolation):
        t.replace_where(
            spark.createDataFrame(
                [(5, 1, -1, 2)], "k long, src long, v long, ver long"),
            "src = 1",
        )
    monkeypatch.setattr(txmod, "_atomic_commit", real_commit)
    # the table is untouched: the losing replace never committed
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: 10}


def test_constraint_commits_reread_on_retry(spark, tmp_path, monkeypatch):
    """add_constraint re-reads the rule map and re-validates the rows at
    each attempt's snapshot: a retry after a lost race keeps the rule a
    concurrent writer added, and refuses a rule a concurrently appended
    row already violates."""
    import kafka_flink_harshevents_spark.sources.txlog as txmod
    from kafka_flink_harshevents_spark.sources.txlog import (
        ConstraintViolation,
    )

    real_commit = txmod._atomic_commit

    def race_first(concurrent):
        raced = {"done": False}

        def inject(table_dir, version, record):
            if not raced["done"] and record.get("op") == "set_constraints":
                raced["done"] = True
                concurrent()  # another handle wins this version
            return real_commit(table_dir, version, record)

        monkeypatch.setattr(txmod, "_atomic_commit", inject)

    # (a) a concurrent add_constraint("b") must survive our retry
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [(1, 10, 1)], "k long, v long, ver long"))
    race_first(lambda: TxTable(spark, t.table_dir).add_constraint(
        "b", "v < 100"))
    t.add_constraint("a", "v > 0")
    monkeypatch.setattr(txmod, "_atomic_commit", real_commit)
    assert t.constraints() == {"a": "v > 0", "b": "v < 100"}

    # (b) a concurrently appended violating row must refuse the rule
    t2 = TxTable.create(
        spark, str(tmp_path / "t2"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t2.append(spark.createDataFrame(
        [(1, 10, 1)], "k long, v long, ver long"))
    race_first(lambda: TxTable(spark, t2.table_dir).append(
        spark.createDataFrame([(2, -5, 1)], "k long, v long, ver long")))
    with pytest.raises(ConstraintViolation):
        t2.add_constraint("pos", "v > 0")
    monkeypatch.setattr(txmod, "_atomic_commit", real_commit)
    assert "pos" not in t2.constraints()


def test_rename_mapping_survives_checkpoint(spark, tmp_path):
    """Log checkpoints snapshot merged meta — the column mapping must
    replay from a checkpoint identically in the library path AND the
    spark-free DataSource meta replay, or reads after checkpoint+rename
    would NULL-fill the renamed column."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        _column_mapping,
    )

    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame([(1, 10, 1)], "k long, v long, ver long"))
    t.rename_column("v", "val")
    t.checkpoint()
    t.append(spark.createDataFrame([(2, 20, 2)], "k long, val long, ver long"))
    assert t.meta.get("column_mapping") == {"val": "v"}
    assert _column_mapping(t.table_dir) == (("val", "v"),)
    assert {r["k"]: r["val"] for r in t.read().collect()} == {1: 10, 2: 20}


def test_stream_schema_changes_mid_stream(spark, tmp_path):
    """A LIVE stream's schema is frozen at start. A rename mid-stream
    keeps serving under the old logical name (old logical == physical,
    and post-rename files still carry the physical name). A widen
    mid-stream is LOSSLESS-OR-LOUD: in-range values flow through the
    frozen narrow schema, the first out-of-range value raises (Arrow
    safe cast) instead of silently truncating — the operator restarts
    the stream to adopt the widened schema (Delta's position)."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamReader,
        _partition_batches,
        _table_schema,
    )

    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame([(1, 10, 1)], "k long, v long, ver long"))
    schema = _table_schema(t.table_dir)  # frozen: has "v"
    rd = TxLogStreamReader({"tabledir": t.table_dir}, schema)
    t.rename_column("v", "val")
    t.append(spark.createDataFrame(
        [(2, 20, 2)], "k long, val long, ver long"))
    rows = []
    for p in rd.partitions({"version": 1},
                           {"version": t.latest_version()}):
        for b in _partition_batches(p, schema):
            rows.extend(b.to_pylist())
    assert {r["k"]: r["v"] for r in rows} == {1: 10, 2: 20}

    t2 = TxTable.create(
        spark, str(tmp_path / "w"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t2.append(spark.createDataFrame([(1, 10, 1)], "k long, v int, ver long"))
    schema2 = _table_schema(t2.table_dir)  # frozen: v int
    rd2 = TxLogStreamReader({"tabledir": t2.table_dir}, schema2)
    t2.append(
        spark.createDataFrame([(2, 2**40, 2)], "k long, v long, ver long"),
        merge_schema=True,
    )
    import pyarrow as pa

    with pytest.raises(pa.ArrowInvalid):
        for p in rd2.partitions({"version": 1},
                                {"version": t2.latest_version()}):
            for b in _partition_batches(p, schema2):
                b.to_pylist()
    # a fresh stream picks up the widened schema and serves everything
    schema3 = _table_schema(t2.table_dir)
    rd3 = TxLogStreamReader({"tabledir": t2.table_dir}, schema3)
    rows3 = []
    for p in rd3.partitions({"version": 1},
                            {"version": t2.latest_version()}):
        for b in _partition_batches(p, schema3):
            rows3.extend(b.to_pylist())
    assert {r["k"]: r["v"] for r in rows3} == {1: 10, 2: 2**40}


@pytest.mark.parametrize("mode", ["copy_on_write", "merge_on_read"])
def test_update_where_recomputes_generated_columns(spark, tmp_path, mode):
    """GENERATED ALWAYS AS under UPDATE: setting a base column a
    generation expression references must RECOMPUTE the generated
    column on the matched rows (a stale stored value contradicts the
    declared expression and mis-prunes); unmatched rows keep their
    values untouched."""
    t = TxTable.create(
        spark, str(tmp_path / mode), key_cols=("k",), order_col="ver",
        n_buckets=1,
        generated_cols={"band": "CAST(v % 97 AS BIGINT)"},
    )
    t.append(spark.createDataFrame(
        [(1, 10, 1), (2, 20, 1)], "k long, v long, ver long"))
    t.update_where("k = 1", {"v": "v + 1000"}, mode=mode)
    got = {r["k"]: (r["v"], r["band"]) for r in t.read().collect()}
    assert got[1] == (1010, 1010 % 97), got
    assert got[2] == (20, 20 % 97)
    # assigning the generated column itself still refuses
    with pytest.raises(ValueError, match="GENERATED"):
        t.update_where("k = 1", {"band": "1"}, mode=mode)


def test_merge_into_clause_surface(spark, tmp_path):
    """Conditional MERGE INTO: matched+condition rows update via SET
    expressions over s./t., matched rows failing the condition keep
    the target value, unmatched source rows insert (optionally
    conditioned), and everything commits atomically with time travel
    intact."""
    t = _mk(spark, tmp_path, n_buckets=2)
    v1 = t.append(spark.createDataFrame(
        [(1, 10, 1), (2, 20, 1), (3, 30, 1)], "k long, v long, ver long"))
    src = spark.createDataFrame(
        [(1, 100, 2),   # matched, condition true (s.v > t.v) -> update
         (2, 5, 2),     # matched, condition FALSE -> keep target
         (9, 90, 2),    # not matched -> insert
         (8, -1, 2)],   # not matched, insert condition false -> dropped
        "k long, v long, ver long")
    t.merge_into(
        src,
        when_matched="update",
        update_set={"v": "t.v + s.v", "ver": "s.ver"},
        matched_condition="s.v > t.v",
        when_not_matched="insert",
        not_matched_condition="s.v >= 0",
    )
    got = {r["k"]: (r["v"], r["ver"]) for r in t.read().collect()}
    assert got == {1: (110, 2), 2: (20, 1), 3: (30, 1), 9: (90, 2)}
    # time travel still shows the pre-merge state
    assert {r["k"] for r in t.read(version=v1).collect()} == {1, 2, 3}
    rec = _read_record(t.table_dir, t.latest_version())
    assert rec["op"] == "merge_into"
    # update_set=None takes the source row wholesale
    t.merge_into(spark.createDataFrame(
        [(3, 333, 3)], "k long, v long, ver long"))
    assert {r["k"]: r["v"] for r in t.read().collect()}[3] == 333


def test_merge_into_delete_duplicates_and_guards(spark, tmp_path):
    """WHEN MATCHED DELETE retracts every target copy of the key
    (append duplicates included); a multi-row-per-key source refuses;
    key/generated assignment refuses; cdf tables materialize the
    feed."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
        generated_cols={"band": "CAST(v % 97 AS BIGINT)"},
    )
    t.append(spark.createDataFrame(
        [(1, 10, 1), (2, 20, 1)], "k long, v long, ver long"))
    t.append(spark.createDataFrame(
        [(1, 11, 2)], "k long, v long, ver long"))  # duplicate key 1
    mv = t.merge_into(
        spark.createDataFrame([(1, 0, 3)], "k long, v long, ver long"),
        when_matched="delete",
        when_not_matched=None,
    )
    got = {r["k"] for r in t.read().collect()}
    assert got == {2}  # BOTH copies of key 1 retracted
    feed = {(r["_change_type"], r["v"]) for r in t.table_changes(mv).collect()}
    assert ("delete", 10) in feed and ("delete", 11) in feed
    # generated col recomputed on conditional update
    t.merge_into(
        spark.createDataFrame([(2, 2000, 4)], "k long, v long, ver long"),
        update_set={"v": "s.v"},
    )
    row = [r for r in t.read().collect() if r["k"] == 2][0]
    assert row["v"] == 2000 and row["band"] == 2000 % 97
    # Delta's multiple-matches error fires only when the duplicate
    # source rows MATCH a target row — key 2 is live here
    with pytest.raises(ValueError, match="multiple rows"):
        t.merge_into(spark.createDataFrame(
            [(2, 1, 5), (2, 2, 6)], "k long, v long, ver long"))
    # duplicate keys that match NOTHING insert (both copies), even
    # with a matched clause configured — the insert-only-dup case
    # Delta accepts
    t.merge_into(spark.createDataFrame(
        [(5, 1, 5), (5, 2, 6)], "k long, v long, ver long"))
    assert sorted(
        r["v"] for r in t.read().filter("k = 5").collect()
    ) == [1, 2]
    with pytest.raises(ValueError, match="key column"):
        t.merge_into(
            spark.createDataFrame([(2, 1, 5)], "k long, v long, ver long"),
            update_set={"k": "s.k + 1"},
        )
    with pytest.raises(ValueError, match="GENERATED"):
        t.merge_into(
            spark.createDataFrame([(2, 1, 5)], "k long, v long, ver long"),
            update_set={"band": "1"},
        )
    # inapplicable clause params are refused, not silently ignored
    src5 = spark.createDataFrame([(2, 1, 5)], "k long, v long, ver long")
    with pytest.raises(ValueError, match="update_set requires"):
        t.merge_into(src5, when_matched="delete", update_set={"v": "1"})
    with pytest.raises(ValueError, match="matched_condition requires"):
        t.merge_into(src5, when_matched=None, matched_condition="1=1")
    with pytest.raises(ValueError, match="not_matched_condition"):
        t.merge_into(src5, when_not_matched=None,
                     not_matched_condition="1=1")
    # typo'd SET column refuses instead of silently changing nothing
    with pytest.raises(ValueError, match="unknown"):
        t.merge_into(src5, update_set={"vv": "s.v"})
    # tombstone sources may carry values a CHECK would refuse — only
    # the WRITTEN result is constraint-checked
    t.add_constraint("v_nonneg", "v >= 0")
    t.merge_into(
        spark.createDataFrame([(2, -1, 9)], "k long, v long, ver long"),
        when_matched="delete",
        when_not_matched=None,
    )
    assert 2 not in {r["k"] for r in t.read().collect()}
    # empty-table / no-hit path: pure inserts
    t2 = _mk(spark, tmp_path, n_buckets=2)
    t2.merge_into(spark.createDataFrame(
        [(7, 70, 1)], "k long, v long, ver long"))
    assert {r["k"]: r["v"] for r in t2.read().collect()} == {7: 70}


def test_merge_into_clause_list_precedence(spark, tmp_path):
    """Ordered WHEN MATCHED clause list: per row the FIRST clause whose
    condition holds wins (Delta's precedence rule); a row no clause
    claims keeps the target value; non-last unconditional clauses and
    legacy kwargs alongside a list are refused."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [(1, 10, 1), (2, 20, 1), (3, 30, 1), (4, 40, 1)],
        "k long, v long, ver long"))
    src = spark.createDataFrame(
        [(1, 100, 2),   # clause1 false, clause2 true -> v = 10+100
         (2, 5, 2),     # clause1+2 false -> catch-all update v=0
         (3, -1, 2),    # clause1 true -> delete
         (9, 90, 2)],   # unmatched -> insert
        "k long, v long, ver long")
    t.merge_into(
        src,
        when_matched=[
            {"action": "delete", "condition": "s.v < 0"},
            {"action": "update", "set": {"v": "t.v + s.v", "ver": "s.ver"},
             "condition": "s.v > t.v"},
            {"action": "update", "set": {"v": "0"}},
        ],
    )
    assert _rows(t) == {
        1: (110, 2), 2: (0, 1), 4: (40, 1), 9: (90, 2)
    }
    with pytest.raises(ValueError, match="except the last"):
        t.merge_into(src, when_matched=[
            {"action": "update"},
            {"action": "delete", "condition": "s.v < 0"},
        ])
    with pytest.raises(ValueError, match="clause LIST"):
        t.merge_into(src, when_matched=[{"action": "update"}],
                     update_set={"v": "1"})
    with pytest.raises(ValueError, match="takes no 'set'"):
        t.merge_into(src, when_matched=[
            {"action": "delete", "set": {"v": "1"}}])
    with pytest.raises(ValueError, match="unknown clause key"):
        t.merge_into(src, when_matched=[
            {"action": "update", "sets": {"v": "1"}}])
    # a matched row NO clause claims keeps the target value even when
    # every clause is conditional (the keep-on-no-winner path)
    t2 = _mk(spark, tmp_path / "t2", n_buckets=2)
    t2.append(spark.createDataFrame(
        [(1, 10, 1)], "k long, v long, ver long"))
    t2.merge_into(
        spark.createDataFrame([(1, 5, 2)], "k long, v long, ver long"),
        when_matched=[
            {"action": "update", "set": None, "condition": "s.v > t.v"},
        ],
        when_not_matched=None,
    )
    assert _rows(t2) == {1: (10, 1)}


def test_merge_into_not_matched_by_source(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE (the sync-two-tables idiom): target
    rows no source key matches delete or update, matched/inserted rows
    follow their own clauses, and the full-scan semantics hold across
    every bucket — not only the source keys' buckets."""
    t = _mk(spark, tmp_path, n_buckets=4)  # spread across buckets
    t.append(spark.createDataFrame(
        [(i, 10 * i, 1) for i in range(1, 9)], "k long, v long, ver long"))
    src = spark.createDataFrame(
        [(1, 111, 2), (2, 222, 2), (9, 999, 2)], "k long, v long, ver long")
    # delete stale target rows above a threshold; keep small ones
    t.merge_into(
        src,
        when_matched="update",
        when_not_matched="insert",
        when_not_matched_by_source="delete",
        by_source_condition="t.v >= 40",
    )
    assert _rows(t) == {
        1: (111, 2), 2: (222, 2), 3: (30, 1), 9: (999, 2)
    }
    # by-source UPDATE stamps unmatched survivors; generated columns
    # recompute on those rows
    t2 = TxTable.create(
        spark, str(tmp_path / "t2"), key_cols=("k",), order_col="ver",
        n_buckets=2, generated_cols={"band": "CAST(v % 97 AS BIGINT)"},
    )
    t2.append(spark.createDataFrame(
        [(1, 10, 1), (2, 20, 1)], "k long, v long, ver long"))
    t2.merge_into(
        spark.createDataFrame([(1, 300, 2)], "k long, v long, ver long"),
        when_matched="update",
        when_not_matched=None,
        when_not_matched_by_source="update",
        by_source_set={"v": "t.v + 1000", "ver": "t.ver + 1"},
    )
    got = {r["k"]: (r["v"], r["ver"], r["band"])
           for r in t2.read().collect()}
    assert got == {1: (300, 2, 300 % 97), 2: (1020, 2, 1020 % 97)}
    # guards: s.-references, set-less update, set-with-delete, orphan
    # condition, no clause at all
    with pytest.raises(ValueError, match="t\\.\\* only"):
        t2.merge_into(src, when_not_matched_by_source="delete",
                      by_source_condition="s.v > 0")
    # Spark resolves aliases case-insensitively, so `S.v` must be
    # refused too — it would otherwise resolve to the all-NULL source
    # side and silently NULL every by-source-updated row
    with pytest.raises(ValueError, match="t\\.\\* only"):
        t2.merge_into(src, when_not_matched_by_source="update",
                      by_source_set={"v": "S.v + 1000"})
    # ... and backtick-quoted spellings of the same reference
    with pytest.raises(ValueError, match="t\\.\\* only"):
        t2.merge_into(src, when_not_matched_by_source="update",
                      by_source_set={"v": "`s`.v + 1000"})
    with pytest.raises(ValueError, match="requires[\\s\\S]*by_source_set"):
        t2.merge_into(src, when_not_matched_by_source="update")
    with pytest.raises(ValueError, match="by_source_set requires"):
        t2.merge_into(src, when_not_matched_by_source="delete",
                      by_source_set={"v": "1"})
    with pytest.raises(ValueError, match="by_source_condition requires"):
        t2.merge_into(src, by_source_condition="t.v > 0")
    with pytest.raises(ValueError, match="no clause"):
        t2.merge_into(src, when_matched=None, when_not_matched=None)


def test_merge_into_insert_only_fast_path(spark, tmp_path):
    """An insert-only merge (no matched/by-source clause) must rewrite
    NOTHING: the commit removes zero files (Delta's insert-only fast
    path), matched source rows are simply dropped, and duplicate
    unmatched keys insert every copy."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [(1, 10, 1), (2, 20, 1)], "k long, v long, ver long"))
    v = t.merge_into(
        spark.createDataFrame(
            [(1, 999, 2),             # matched -> dropped, target kept
             (7, 70, 2), (7, 71, 2),  # dup unmatched -> both insert
             (8, -1, 2)],             # condition false -> dropped
            "k long, v long, ver long"),
        when_matched=None,
        not_matched_condition="s.v >= 0",
    )
    rec = _read_record(t.table_dir, v)
    assert rec["op"] == "merge_into" and rec["remove"] == []
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(1, 10), (2, 20), (7, 70), (7, 71)]


def test_merge_into_insert_clause_list(spark, tmp_path):
    """Ordered WHEN NOT MATCHED clause list (Delta's multi-insert
    form): first TRUE condition wins, values dicts construct the row
    (unassigned KEY columns come from the source, unassigned data
    columns are NULL), rows no clause claims are dropped, GENERATED
    columns recompute on custom-valued inserts — on BOTH the
    insert-only fast path and the joined plan."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, generated_cols={"band": "CAST(v % 97 AS BIGINT)"},
    )
    t.append(spark.createDataFrame(
        [(1, 10, 1)], "k long, v long, ver long"))
    src = spark.createDataFrame(
        [(1, 999, 2),   # matched -> kept (no matched clause)
         (5, 50, 2),    # clause0 (v >= 50) -> wholesale insert
         (6, 7, 2),     # clause1 (catch-all >= 0) -> custom values
         (7, -5, 2)],   # no clause -> dropped
        "k long, v long, ver long")
    v = t.merge_into(
        src,
        when_matched=None,
        when_not_matched=[
            {"values": None, "condition": "s.v >= 50"},
            {"values": {"v": "s.v * 1000"}, "condition": "s.v >= 0"},
        ],
    )
    rec = _read_record(t.table_dir, v)
    assert rec["remove"] == []  # still the insert-only fast path
    got = {r["k"]: (r["v"], r["ver"], r["band"])
           for r in t.read().collect()}
    assert got == {
        1: (10, 1, 10 % 97),
        5: (50, 2, 50 % 97),
        6: (7000, None, 7000 % 97),  # unassigned ver -> NULL; gen
        # recomputed from the INSERTED value, key taken from source
    }, got
    # the JOINED plan (matched clause present) resolves the same list
    src2 = spark.createDataFrame(
        [(1, 11, 3), (8, 80, 3), (9, 3, 3)], "k long, v long, ver long")
    t.merge_into(
        src2,
        when_matched="update",
        when_not_matched=[
            {"values": None, "condition": "s.v >= 50"},
            {"values": {"v": "s.v * 1000", "ver": "s.ver"},
             "condition": "s.v >= 0"},
        ],
    )
    got2 = {r["k"]: (r["v"], r["ver"]) for r in t.read().collect()}
    assert got2[1] == (11, 3) and got2[8] == (80, 3)
    assert got2[9] == (3000, 3)
    # guards
    with pytest.raises(ValueError, match="s\\.\\* only"):
        t.merge_into(src2, when_not_matched=[
            {"values": {"v": "t.v + 1"}}])
    with pytest.raises(ValueError, match="s\\.\\* only"):
        t.merge_into(src2, when_not_matched=[
            {"values": {"v": "`T`.v + 1"}}])
    with pytest.raises(ValueError, match="except the last"):
        t.merge_into(src2, when_not_matched=[
            {"values": None},
            {"values": None, "condition": "s.v > 0"}])
    with pytest.raises(ValueError, match="unknown"):
        t.merge_into(src2, when_not_matched=[{"values": {"zz": "1"}}])
    with pytest.raises(ValueError, match="GENERATED"):
        t.merge_into(src2, when_not_matched=[{"values": {"band": "1"}}])
    with pytest.raises(ValueError, match="single-clause form"):
        t.merge_into(src2, when_not_matched=[{"values": None}],
                     not_matched_condition="s.v > 0")
    with pytest.raises(ValueError, match="empty when_not_matched"):
        t.merge_into(src2, when_not_matched=[])


def test_merge_into_schema_evolution(spark, tmp_path):
    """merge_schema=True under MERGE (Delta's autoMerge): new source
    columns join the schema (pre-existing target rows NULL-fill), a
    NARROWER source keeps target values on SET * updates (by-name
    mapping) and NULL-fills its inserts, and without the flag the
    mismatch refuses."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [(1, 10, 1), (2, 20, 1)], "k long, v long, ver long"))
    src = spark.createDataFrame(
        [(1, 100, 2, "a"), (9, 90, 2, "b")],
        "k long, v long, ver long, tag string")
    with pytest.raises(ValueError, match="merge_schema"):
        t.merge_into(src)
    t.merge_into(src, merge_schema=True)
    got = {r["k"]: (r["v"], r["ver"], r["tag"])
           for r in t.read().collect()}
    assert got == {
        1: (100, 2, "a"),   # wholesale update carries the new column
        2: (20, 1, None),   # untouched target row NULL-fills
        9: (90, 2, "b"),    # insert carries it
    }
    # narrower source: SET * keeps target values for absent columns,
    # inserts NULL-fill them
    src2 = spark.createDataFrame([(2, 3), (11, 3)], "k long, ver long")
    t.merge_into(src2, merge_schema=True)
    got2 = {r["k"]: (r["v"], r["ver"], r["tag"])
            for r in t.read().collect()}
    assert got2[2] == (20, 3, None)     # v, tag kept; ver updated
    assert got2[11] == (None, 3, None)  # insert NULL-fills
    assert got2[1] == (100, 2, "a")
    # TYPE WIDENING through merge_into: int table column, long source
    # — the union schema records long, kept target rows upcast through
    # the clause-plan projection, and the post-merge read is long
    tw = TxTable.create(
        spark, str(tmp_path / "tw"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    tw.append(spark.createDataFrame(
        [(1, 7, 1), (2, 8, 1)], "k long, v int, ver long"))
    tw.merge_into(
        spark.createDataFrame(
            [(1, 4_000_000_000, 2), (9, 9, 2)],
            "k long, v long, ver long"),
        merge_schema=True,
    )
    assert dict(tw.read().dtypes)["v"] == "bigint"
    gotw = {r["k"]: r["v"] for r in tw.read().collect()}
    assert gotw == {1: 4_000_000_000, 2: 8, 9: 9}
    # and without the flag the widening refuses
    tw2 = TxTable.create(
        spark, str(tmp_path / "tw2"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    tw2.append(spark.createDataFrame(
        [(1, 7, 1)], "k long, v int, ver long"))
    with pytest.raises(ValueError, match="merge_schema"):
        tw2.merge_into(spark.createDataFrame(
            [(1, 9, 2)], "k long, v long, ver long"))


def test_merge_into_source_materialized_once(spark, tmp_path):
    """The source is pinned (localCheckpoint) before the duplicate
    check: its rows are computed exactly ONCE however many jobs the
    merge runs, so a non-deterministic source cannot pass the check
    yet write different rows — the Delta materializeSource contract."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [(1, 10, 1)], "k long, v long, ver long"))
    acc = spark.sparkContext.accumulator(0)

    def counting(v):
        acc.add(1)
        return v

    cnt = F.udf(counting, LongType())
    src = spark.range(4).select(
        cnt(F.col("id") + 1).alias("k"),
        (F.col("id") * 100).alias("v"),
        F.lit(2).alias("ver"),
    )
    t.merge_into(src, when_matched="update")
    assert _rows(t) == {
        1: (0, 2), 2: (100, 2), 3: (200, 2), 4: (300, 2)
    }
    # one evaluation per source row — not one per downstream job
    assert acc.value == 4, acc.value


def test_merge_into_sink_exactly_once(spark, tmp_path):
    """foreachBatch conditional-merge sink: each micro-batch is one
    atomic merge_into commit with the configured clauses; a replayed
    (app, batch) is a no-op via the txn marker."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [(1, 10, 1), (2, 20, 1)], "k long, v long, ver long"))
    sink = t.merge_into_sink(
        "app-mi",
        when_matched="update",
        update_set={"v": "t.v + s.v", "ver": "s.ver"},
        matched_condition="s.ver > t.ver",
    )
    b0 = spark.createDataFrame(
        [(1, 100, 2), (9, 90, 2)], "k long, v long, ver long")
    sink(b0, 0)
    got = {r["k"]: (r["v"], r["ver"]) for r in t.read().collect()}
    assert got == {1: (110, 2), 2: (20, 1), 9: (90, 2)}
    v_after = t.latest_version()
    # exact replay of the same batch id: no commit, no double-apply
    sink(b0, 0)
    assert t.latest_version() == v_after
    assert {r["k"]: r["v"] for r in t.read().collect()}[1] == 110
    # the next batch applies
    sink(spark.createDataFrame([(1, 1, 3)], "k long, v long, ver long"), 1)
    assert {r["k"]: r["v"] for r in t.read().collect()}[1] == 111


def test_vacuum_dry_run_lists_without_deleting(spark, tmp_path):
    """VACUUM DRY RUN: the same reclaim list as a real vacuum, with
    nothing deleted — the pre-flight before an irreversible reclaim."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [(i, i, 1) for i in range(8)], "k long, v long, ver long"))
    t.merge_upsert(spark.createDataFrame(
        [(0, 99, 2)], "k long, v long, ver long"))
    would = t.vacuum(retain_versions=1, dry_run=True)
    assert would  # the merge superseded at least one file
    for rel in would:
        assert os.path.exists(os.path.join(t.table_dir, rel)), rel
    # time travel still works after a dry run
    assert len(_rows(t, version=2)) == 8
    real = t.vacuum(retain_versions=1)
    assert real == would
    for rel in real:
        assert not os.path.exists(os.path.join(t.table_dir, rel)), rel


def test_served_sizes_mirrors_change_partition_branch_order(tmp_path):
    """Pacing must budget the SAME file set `_change_partitions`
    serves. The sharp edge: in change-feed mode an append/clone with
    add files is served from the ADD files (inserts) even if the
    record also carried `cdf_files` — the pacing twin must prefer the
    same branch, not count the cdf side."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        _served_sizes,
    )

    rec = {
        "op": "append",
        "add": [{"path": "a.parquet", "bytes": 10},
                {"path": "b.parquet", "bytes": 20}],
        "cdf_files": ["c1.parquet", "c2.parquet", "c3.parquet"],
        "cdf_bytes": {"c1.parquet": 7, "c2.parquet": 7, "c3.parquet": 7},
    }
    # change-feed mode: add branch wins (2 files / 30 bytes), exactly
    # as _change_partitions serves it
    assert _served_sizes(str(tmp_path), rec, True) == (2, 30)
    assert _served_sizes(str(tmp_path), rec, False) == (2, 30)
    # a rewrite (no add) serves its materialized feed
    rw = {"op": "merge", "add": [], "remove": ["x"],
          "cdf_files": ["c1.parquet"], "cdf_bytes": {"c1.parquet": 7}}
    assert _served_sizes(str(tmp_path), rw, True) == (1, 7)
    # layout commits serve nothing in either mode
    for op in ("create", "compact"):
        lay = {"op": op, "add": [{"path": "z.parquet", "bytes": 99}]}
        assert _served_sizes(str(tmp_path), lay, True) == (0, 0)
        assert _served_sizes(str(tmp_path), lay, False) == (0, 0)


# ---------------------------------------------------------------------------
# IDENTITY columns + row tracking (Delta GENERATED ... AS IDENTITY /
# row-ID feature): watermark allocation atomic with the commit,
# inherit-on-update, preservation across rewrites
# ---------------------------------------------------------------------------


def _mk_ident(spark, tmp_path, name="idt", **kw) -> TxTable:
    return TxTable.create(
        spark, str(tmp_path / name), key_cols=("k",), order_col="ver",
        n_buckets=2, **kw,
    )


def test_identity_append_allocates_and_refuses(spark, tmp_path):
    t = _mk_ident(
        spark, tmp_path,
        identity_cols={"rid": {"start": 100, "step": 3}},
    )
    df = spark.createDataFrame(
        [(k, k * 10, 1) for k in range(1, 8)], "k long, v long, ver long"
    )
    t.append(df)
    got = {r["k"]: r["rid"] for r in t.read().collect()}
    # unique, on the (start, step) lattice, exactly 7 allocations
    assert sorted(got.values()) == [100 + 3 * i for i in range(7)]
    assert t._identity_counters() == {"rid": 7}
    # GENERATED ALWAYS: a frame carrying the column is refused
    with pytest.raises(ValueError, match="GENERATED ALWAYS AS IDENTITY"):
        t.append(df.withColumn("rid", df.v))
    # second append continues past the watermark — no reuse
    t.append(
        spark.createDataFrame([(100, 1, 1)], "k long, v long, ver long")
    )
    vals = [r["rid"] for r in t.read().collect()]
    assert len(set(vals)) == 8 and max(vals) == 100 + 3 * 7


def test_identity_by_default_fills_only_nulls(spark, tmp_path):
    t = _mk_ident(
        spark, tmp_path,
        identity_cols={"rid": {"start": 1, "step": 1, "always": False}},
    )
    df = spark.createDataFrame(
        [(1, 10, 1, 555), (2, 20, 1, None), (3, 30, 1, None)],
        "k long, v long, ver long, rid long",
    )
    t.append(df)
    got = {r["k"]: r["rid"] for r in t.read().collect()}
    assert got[1] == 555                      # explicit value kept
    assert sorted([got[2], got[3]]) == [1, 2]  # NULLs filled from watermark
    assert t._identity_counters() == {"rid": 2}


def test_identity_merge_upsert_inherits_existing_key(spark, tmp_path):
    t = _mk_ident(spark, tmp_path, identity_cols={"rid": {}})
    base = spark.createDataFrame(
        [(k, k, 1) for k in range(1, 6)], "k long, v long, ver long"
    )
    t.append(base)
    before = {r["k"]: r["rid"] for r in t.read().collect()}
    t.merge_upsert(
        spark.createDataFrame(
            [(2, 222, 9), (3, 333, 9), (50, 500, 1)],
            "k long, v long, ver long",
        )
    )
    after = {r["k"]: r["rid"] for r in t.read().collect()}
    # updated keys keep their identity; the new key allocates fresh
    assert after[2] == before[2] and after[3] == before[3]
    assert after[50] not in before.values()
    assert len(set(after.values())) == 6


def test_identity_merge_into_keeps_on_update_allocates_on_insert(
    spark, tmp_path
):
    t = _mk_ident(spark, tmp_path, identity_cols={"rid": {}})
    t.append(
        spark.createDataFrame(
            [(1, 10, 1), (2, 20, 1)], "k long, v long, ver long"
        )
    )
    before = {r["k"]: r["rid"] for r in t.read().collect()}
    with pytest.raises(ValueError, match="GENERATED/IDENTITY"):
        t.merge_into(
            spark.createDataFrame([(1, 0, 2)], "k long, v long, ver long"),
            when_matched="update", update_set={"rid": "s.v"},
        )
    t.merge_into(
        spark.createDataFrame(
            [(1, 11, 2), (9, 90, 1)], "k long, v long, ver long"
        ),
        when_matched="update",
        when_not_matched="insert",
    )
    after = {r["k"]: (r["rid"], r["v"]) for r in t.read().collect()}
    assert after[1] == (before[1], 11)      # update keeps identity
    assert after[2] == (before[2], 20)      # untouched row intact
    assert after[9][0] not in before.values()  # insert allocates


def test_identity_concurrent_appends_never_collide(spark, tmp_path):
    import threading

    d = str(tmp_path / "conc")
    TxTable.create(
        spark, d, key_cols=("k",), order_col="ver", n_buckets=2,
        identity_cols={"rid": {}},
    )
    errs = []

    def w(base):
        try:
            TxTable(spark, d).append(
                spark.createDataFrame(
                    [(base + i, 1, 1) for i in range(15)],
                    "k long, v long, ver long",
                ),
                max_retries=20,
            )
        except Exception as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    threads = [
        threading.Thread(target=w, args=(i * 1000,)) for i in range(3)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    t = TxTable(spark, d)
    vals = [r["rid"] for r in t.read().collect()]
    assert len(vals) == 45 and len(set(vals)) == 45
    # watermark covers every issued id (gaps allowed, reuse never)
    assert max(vals) <= 1 + (t._identity_counters()["rid"] - 1)


def test_row_tracking_preserved_across_rewrites(spark, tmp_path):
    t = _mk_ident(spark, tmp_path, row_tracking=True)
    t.append(
        spark.createDataFrame(
            [(k, k, 1) for k in range(1, 9)], "k long, v long, ver long"
        )
    )
    ids0 = {r["k"]: r["_row_id"] for r in t.read().collect()}
    assert sorted(ids0.values()) == list(range(8))
    # copy-on-write UPDATE, layout ops: the row keeps its id
    t.update_where("k <= 3", {"v": "v + 100"})
    t.compact()
    t.optimize_zorder(("v",))
    t.rebucket(3)
    ids1 = {r["k"]: r["_row_id"] for r in t.read().collect()}
    assert ids1 == ids0
    # merge-on-read UPDATE (DV + post-image) keeps it too
    t.update_where("k = 5", {"v": "v + 1"}, mode="merge_on_read")
    ids2 = {r["k"]: r["_row_id"] for r in t.read().collect()}
    assert ids2 == ids0
    # delete retires the id; a later insert never reuses it
    t.delete_where("k = 1")
    t.merge_upsert(
        spark.createDataFrame([(1, 1, 9)], "k long, v long, ver long")
    )
    ids3 = {r["k"]: r["_row_id"] for r in t.read().collect()}
    assert ids3[1] == 8 and ids3[1] != ids0[1]


def test_row_tracking_cdc_replace_and_clone(spark, tmp_path):
    t = _mk_ident(spark, tmp_path, row_tracking=True)
    t.append(
        spark.createDataFrame(
            [(k, k, 1) for k in range(1, 5)], "k long, v long, ver long"
        )
    )
    ids0 = {r["k"]: r["_row_id"] for r in t.read().collect()}
    t.apply_cdc(
        spark.createDataFrame(
            [(2, 22, 5, "U"), (3, 0, 5, "D"), (70, 7, 1, "U")],
            "k long, v long, ver long, op string",
        )
    )
    ids1 = {r["k"]: r["_row_id"] for r in t.read().collect()}
    assert ids1[2] == ids0[2] and 3 not in ids1 and ids1[70] == 4
    # replaceWhere is delete+insert: the slice re-allocates
    t.replace_where(
        spark.createDataFrame([(4, 44, 9)], "k long, v long, ver long"),
        "k = 4",
    )
    ids2 = {r["k"]: r["_row_id"] for r in t.read().collect()}
    assert ids2[4] == 5 and ids2[4] != ids0[4]
    # clone: rows keep ids, the clone's watermark continues (no reuse)
    c = t.clone_to(str(tmp_path / "clone"))
    got = {r["k"]: r["_row_id"] for r in c.read().collect()}
    assert got == ids2
    c.append(spark.createDataFrame([(90, 9, 1)], "k long, v long, ver long"))
    assert {
        r["_row_id"] for r in c.read().collect()
    } == set(ids2.values()) | {6}


def test_row_tracking_restore_never_reverts_watermark(spark, tmp_path):
    t = _mk_ident(spark, tmp_path, row_tracking=True)
    v1 = t.append(
        spark.createDataFrame([(1, 1, 1)], "k long, v long, ver long")
    )
    t.append(spark.createDataFrame([(2, 2, 1)], "k long, v long, ver long"))
    t.restore(v1)
    # the restored snapshot has only k=1; new ids continue PAST the
    # restored-away row's id (2's id stays burned — time travel still
    # reaches it)
    t.append(spark.createDataFrame([(3, 3, 1)], "k long, v long, ver long"))
    got = {r["k"]: r["_row_id"] for r in t.read().collect()}
    assert got == {1: 0, 3: 2}
    assert t._identity_counters()["_row_id"] == 3


def test_identity_guards(spark, tmp_path):
    # create-time validation
    with pytest.raises(ValueError, match="key/order"):
        TxTable.create(
            spark, str(tmp_path / "g1"), ("k",), "ver",
            identity_cols={"k": {}},
        )
    with pytest.raises(ValueError, match="step"):
        TxTable.create(
            spark, str(tmp_path / "g2"), ("k",), "ver",
            identity_cols={"rid": {"step": 0}},
        )
    with pytest.raises(ValueError, match="reserved"):
        TxTable.create(
            spark, str(tmp_path / "g3"), ("k",), "ver",
            identity_cols={"_row_id": {}},
        )
    with pytest.raises(ValueError, match="GENERATED and IDENTITY"):
        TxTable.create(
            spark, str(tmp_path / "g4"), ("k",), "ver",
            generated_cols={"rid": "v + 1"}, identity_cols={"rid": {}},
        )
    t = _mk_ident(spark, tmp_path, identity_cols={"rid": {}})
    t.append(spark.createDataFrame([(1, 1, 1)], "k long, v long, ver long"))
    with pytest.raises(ValueError, match="IDENTITY"):
        t.update_where("k = 1", {"rid": "99"})
    with pytest.raises(ValueError, match="IDENTITY"):
        t.rename_column("rid", "rid2")
    with pytest.raises(ValueError, match="IDENTITY"):
        t.add_constraint("c1", "rid > 0")
    # dropping the identity column retires its allocation rule
    t.drop_columns(("rid",))
    assert "identity_cols" not in t.meta or "rid" not in (
        t.meta.get("identity_cols") or {}
    )
    t.append(spark.createDataFrame([(2, 2, 1)], "k long, v long, ver long"))
    assert "rid" not in t.read().columns
    # _row_id is undroppable on a row-tracking table
    rt = TxTable.create(
        spark, str(tmp_path / "g5"), ("k",), "ver", row_tracking=True,
    )
    rt.append(spark.createDataFrame([(1, 1, 1)], "k long, v long, ver long"))
    with pytest.raises(ValueError, match="row_tracking"):
        rt.drop_columns(("_row_id",))


def test_identity_datasource_writer_refused_reader_serves(spark, tmp_path):
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
    )

    spark.dataSource.register(TxLogStreamSource)
    t = _mk_ident(spark, tmp_path, row_tracking=True)
    t.append(
        spark.createDataFrame(
            [(k, k, 1) for k in range(1, 4)], "k long, v long, ver long"
        )
    )
    with pytest.raises(Exception, match="IDENTITY"):
        (
            spark.createDataFrame([(9, 9, 1)], "k long, v long, ver long")
            .write.format("txlog")
            .mode("append")
            .option("tabledir", t.table_dir)
            .save()
        )
    # the DataSource BATCH reader serves _row_id like any column
    got = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .load()
        .select("k", "_row_id")
        .collect()
    )
    assert {r["k"]: r["_row_id"] for r in got} == {1: 0, 2: 1, 3: 2}


def test_identity_cdf_carries_row_ids(spark, tmp_path):
    t = _mk_ident(spark, tmp_path, row_tracking=True, cdf=True)
    t.append(
        spark.createDataFrame(
            [(1, 1, 1), (2, 2, 1)], "k long, v long, ver long"
        )
    )
    v = t.merge_upsert(
        spark.createDataFrame([(2, 22, 5)], "k long, v long, ver long")
    )
    ch = {
        (r["_change_type"]): r["_row_id"]
        for r in t.table_changes(v).collect()
    }
    # the update's pre/post images carry the SAME stable row id
    assert ch["update_preimage"] == ch["update_postimage"] == 1


# identity allocation under CONCURRENT mixed data ops: whatever
# interleaving two threads produce, ids are never reused — across the
# WHOLE commit history (time travel included), each issued id belongs
# to exactly one key, and the watermark covers every issued id
_id_op = st.one_of(
    st.tuples(st.just("append"), st.integers(1, 3)),
    st.tuples(st.just("merge"),
              st.lists(st.integers(0, 9), min_size=1, max_size=3,
                       unique=True)),
    st.tuples(st.just("delete"), st.sampled_from([2, 3, 5])),
)
_id_programs = st.tuples(
    st.lists(_id_op, min_size=1, max_size=3),
    st.lists(_id_op, min_size=1, max_size=3),
)


@given(programs=_id_programs)
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_identity_never_reuses_ids_under_concurrency(
    spark, tmp_path_factory, programs
):
    import threading

    from pyspark import InheritableThread

    tmp = tmp_path_factory.mktemp("txidconc")
    t = TxTable.create(
        spark, str(tmp / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, row_tracking=True,
    )
    t.append(spark.createDataFrame(
        [(k, k, 1) for k in range(10)], "k long, v long, ver long"))
    lock = threading.Lock()
    ctr = {"ver": 1, "key": 1000}
    errs: list = []

    def run(ops) -> None:
        try:
            spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(  # noqa: E501
                spark._jsparkSession
            )
            for kind, arg in ops:
                if kind == "append":
                    with lock:
                        rows = []
                        for _ in range(arg):
                            ctr["key"] += 1
                            rows.append((ctr["key"], 0, 1))
                    t.append(
                        spark.createDataFrame(
                            rows, "k long, v long, ver long"),
                        max_retries=25,
                    )
                elif kind == "merge":
                    with lock:
                        ctr["ver"] += 1
                        rows = [(k, k + ctr["ver"], ctr["ver"])
                                for k in arg]
                    t.merge_upsert(
                        spark.createDataFrame(
                            rows, "k long, v long, ver long"),
                        max_retries=25,
                    )
                else:
                    t.delete_where(f"k % {arg} = 0", max_retries=25)
        except Exception as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    threads = [InheritableThread(target=run, args=(p,)) for p in programs]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    # sweep the WHOLE history: each _row_id value must map to exactly
    # one key across every snapshot, and every snapshot's ids must be
    # internally unique (allocation atomicity — no torn watermark)
    owner: dict[int, int] = {}
    for v in range(2, t.latest_version() + 1):
        try:
            rows = t.read(version=v).select("k", "_row_id").collect()
        except ValueError:
            continue  # pre-schema versions have nothing to read
        ids = [r["_row_id"] for r in rows]
        assert len(ids) == len(set(ids)), f"duplicate ids at v{v}"
        for r in rows:
            got = owner.setdefault(r["_row_id"], r["k"])
            assert got == r["k"], (
                f"id {r['_row_id']} reused: key {got} then {r['k']}"
            )
    assert max(owner) < t._identity_counters()["_row_id"]


def test_identity_merge_into_insert_only_fast_path(spark, tmp_path):
    """The insert-only fast path (no matched clause → pure append,
    zero rewrite) still allocates from the watermark."""
    t = _mk_ident(spark, tmp_path, identity_cols={"rid": {}})
    t.append(spark.createDataFrame(
        [(1, 1, 1), (2, 2, 1)], "k long, v long, ver long"))
    v0 = t.latest_version()
    t.merge_into(
        spark.createDataFrame(
            [(2, 0, 1), (30, 3, 1), (40, 4, 1)],
            "k long, v long, ver long",
        ),
        when_matched=None,
        when_not_matched="insert",
    )
    rec = _read_record(t.table_dir, t.latest_version())
    assert not rec["remove"], "insert-only merge must not rewrite"
    assert rec["meta_update"]["identity_next"] == {"rid": 4}
    got = {r["k"]: r["rid"] for r in t.read().collect()}
    assert got[2] == 2 and sorted(got.values()) == [1, 2, 3, 4]


def test_identity_table_streams_appends(spark, tmp_path):
    """Appends on identity tables carry a meta_update (the watermark
    bump) — the streaming source must still treat them as plain
    appends and serve the allocated column."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
    )

    spark.dataSource.register(TxLogStreamSource)
    t = _mk_ident(spark, tmp_path, row_tracking=True)
    t.append(spark.createDataFrame(
        [(1, 1, 1), (2, 2, 1)], "k long, v long, ver long"))
    q = (
        spark.readStream.format("txlog")
        .option("tabledir", t.table_dir)
        .load()
        .writeStream.format("memory")
        .queryName("idstream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["k"]: r["_row_id"]
        for r in spark.sql("SELECT k, _row_id FROM idstream").collect()
    }
    assert got == {1: 0, 2: 1}


def test_row_tracking_merge_into_as_first_write(spark, tmp_path):
    """Review fix: merge_into as the FIRST commit on a row-tracking
    table must still record _row_id in the schema and allocate —
    the raw source frame never carries the managed column."""
    t = _mk_ident(spark, tmp_path, row_tracking=True)
    t.merge_into(
        spark.createDataFrame(
            [(1, 1, 1), (2, 2, 1)], "k long, v long, ver long"
        ),
        when_matched=None,
        when_not_matched="insert",
    )
    got = {r["k"]: r["_row_id"] for r in t.read().collect()}
    assert got == {1: 0, 2: 1}
    # and the aligned follow-up write works
    t.merge_upsert(
        spark.createDataFrame([(2, 22, 5), (3, 3, 1)],
                              "k long, v long, ver long")
    )
    got = {r["k"]: r["_row_id"] for r in t.read().collect()}
    assert got == {1: 0, 2: 1, 3: 2}


def test_identity_watermark_survives_drop_and_restore(spark, tmp_path):
    """Review fix: allocating on OTHER identity columns must not erase
    a dropped column's retired watermark — a restore across the drop
    re-activates the rule, and its ids must resume PAST the old ones."""
    t = _mk_ident(
        spark, tmp_path, row_tracking=True, identity_cols={"rid": {}},
    )
    v1 = t.append(
        spark.createDataFrame(
            [(k, k, 1) for k in range(1, 6)], "k long, v long, ver long"
        )
    )
    t.drop_columns(("rid",))
    # this allocation rewrites identity_next — rid's entry must survive
    t.append(spark.createDataFrame([(50, 5, 1)], "k long, v long, ver long"))
    assert (t.meta.get("identity_next") or {}).get("rid") == 5
    t.restore(v1)
    t.append(spark.createDataFrame([(60, 6, 1)], "k long, v long, ver long"))
    rids = [r["rid"] for r in t.read().collect()]
    assert len(rids) == len(set(rids)) == 6
    assert max(rids) == 6  # resumed past the pre-drop watermark


def test_identity_nondeterministic_frame_allocates_exactly(spark, tmp_path):
    """Review fix: the per-bucket count job and the stage job must see
    the SAME rows even for a non-deterministic frame — ids stay unique
    and non-NULL, and the watermark matches the written rows."""
    from pyspark.sql import functions as F

    t = _mk_ident(spark, tmp_path, identity_cols={"rid": {}})
    base = spark.range(1, 201).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("ver")
    )
    # rows flicker between evaluations without pinning
    flaky = base.filter(F.rand() < 0.5).withColumn(
        "v", (F.rand() * 100).cast("long")
    ).select("k", "v", "ver")
    t.append(flaky)
    rows = t.read().collect()
    rids = [r["rid"] for r in rows]
    assert all(r is not None for r in rids)
    assert len(set(rids)) == len(rids)
    assert t._identity_counters()["rid"] == len(rows)
    assert sorted(rids) == list(range(1, len(rows) + 1))


def test_generated_col_may_not_reference_identity(spark, tmp_path):
    with pytest.raises(ValueError, match="BEFORE allocation"):
        TxTable.create(
            spark, str(tmp_path / "gi"), ("k",), "ver",
            generated_cols={"g": "rid + 1"},
            identity_cols={"rid": {}},
        )
    with pytest.raises(ValueError, match="BEFORE allocation"):
        TxTable.create(
            spark, str(tmp_path / "gi2"), ("k",), "ver",
            generated_cols={"g": "_row_id + 1"},
            row_tracking=True,
        )


def test_identity_arithmetic_is_64_bit(spark, tmp_path):
    """Review fix: id construction must not wrap at 2^31 — a start
    near int32 max plus a few thousand allocations crosses it."""
    t = _mk_ident(
        spark, tmp_path,
        identity_cols={"rid": {"start": 2_147_483_000, "step": 1}},
    )
    t.append(
        spark.createDataFrame(
            [(k, k, 1) for k in range(2000)], "k long, v long, ver long"
        )
    )
    rids = sorted(r["rid"] for r in t.read().collect())
    assert rids == list(range(2_147_483_000, 2_147_483_000 + 2000))


def test_identity_by_default_normalizes_type(spark, tmp_path):
    """Review fix: a BY DEFAULT frame carrying the column as int must
    record/stage int64 (no schema fork); non-integral types refuse."""
    t = _mk_ident(
        spark, tmp_path,
        identity_cols={"rid": {"always": False}},
    )
    t.merge_upsert(
        spark.createDataFrame(
            [(1, 10, 1, 7), (2, 20, 1, None)],
            "k long, v long, ver long, rid int",  # int, with a NULL
        )
    )
    df = t.read()
    assert dict(df.dtypes)["rid"] == "bigint"
    got = {r["k"]: r["rid"] for r in df.collect()}
    assert got == {1: 7, 2: 1}
    with pytest.raises(ValueError, match="integral"):
        t.append(
            spark.createDataFrame(
                [(3, 30, 1, "x")], "k long, v long, ver long, rid string"
            )
        )


def test_merge_into_set_star_keeps_identity(spark, tmp_path):
    """Review fix: SET * (update_set=None) must keep the target row's
    identity even when a BY DEFAULT source carries the column as NULL
    — and explicit SET of any identity column is refused."""
    t = _mk_ident(
        spark, tmp_path,
        identity_cols={"rid": {"always": False}},
    )
    t.append(spark.createDataFrame([(1, 10, 1)], "k long, v long, ver long"))
    before = {r["k"]: r["rid"] for r in t.read().collect()}
    t.merge_into(
        spark.createDataFrame(
            [(1, 11, 2, None)], "k long, v long, ver long, rid long"
        ),
        when_matched="update",
    )
    after = {r["k"]: (r["rid"], r["v"]) for r in t.read().collect()}
    assert after[1] == (before[1], 11)  # id kept, value updated
    with pytest.raises(ValueError, match="GENERATED/IDENTITY"):
        t.merge_into(
            spark.createDataFrame([(1, 0, 3)], "k long, v long, ver long"),
            when_matched="update", update_set={"rid": "42"},
        )
    # BY DEFAULT inserts MAY carry an explicit value (Delta's rule)
    t.merge_into(
        spark.createDataFrame(
            [(9, 90, 1, 777)], "k long, v long, ver long, rid long"
        ),
        when_matched=None,
        when_not_matched=[{"values": {"k": "s.k", "v": "s.v",
                                      "ver": "s.ver", "rid": "s.rid"}}],
    )
    got = {r["k"]: r["rid"] for r in t.read().collect()}
    assert got[9] == 777


def test_row_tracking_upsert_sink_ids_stable_across_replay(spark, tmp_path):
    """Exactly-once streaming writes on a row-tracking table: updates
    inherit ids through the sink's merge, and a replayed micro-batch
    (crash-recovery delivery) is a txn-marker no-op — the watermark
    does not advance and no id churns."""
    t = _mk_ident(spark, tmp_path, row_tracking=True)
    sink = t.upsert_sink("app-rt")
    sink(spark.createDataFrame(
        [(1, 1, 1), (2, 2, 1)], "k long, v long, ver long"), 0)
    ids0 = {r["k"]: r["_row_id"] for r in t.read().collect()}
    b1 = spark.createDataFrame(
        [(2, 22, 5), (3, 3, 1)], "k long, v long, ver long")
    sink(b1, 1)
    ids1 = {r["k"]: r["_row_id"] for r in t.read().collect()}
    assert ids1[2] == ids0[2] and ids1[3] == 2
    wm = t._identity_counters()["_row_id"]
    sink(b1, 1)  # replay — must be a complete no-op
    assert t._identity_counters()["_row_id"] == wm
    assert {r["k"]: r["_row_id"] for r in t.read().collect()} == ids1


# ---------------------------------------------------------------------------
# COPY INTO: idempotent file ingestion
# ---------------------------------------------------------------------------


def _land(spark, d, name, rows):
    path = str(d / name)
    spark.createDataFrame(rows, "k long, v long, ver long").coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    import glob as _g

    return sorted(_g.glob(path + "/*.parquet"))[0]


def test_copy_into_skips_already_loaded_files(spark, tmp_path):
    t = _mk_ident(spark, tmp_path)
    land = tmp_path / "landing"
    f1 = _land(spark, land, "a", [(1, 10, 1), (2, 20, 1)])
    v, n = t.copy_into(f1)
    assert n == 1  # one file loaded
    # re-run: nothing new, NO commit
    v2, n2 = t.copy_into(f1)
    assert (v2, n2) == (v, 0)
    # a second file lands: only it loads, under one glob over both
    f2 = _land(spark, land, "b", [(3, 30, 1)])
    v3, n3 = t.copy_into(str(land / "*" / "*.parquet"))
    assert n3 == 1 and v3 == v + 1
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: 10, 2: 20, 3: 30}
    # force reloads (duplicate rows — append semantics, caller's call)
    _, n4 = t.copy_into(f1, force=True)
    assert n4 == 1
    assert t.read().count() == 5
    rec = _read_record(t.table_dir, v)
    assert rec["copied_files"][0]["path"] == f1
    assert rec["copied_files"][0]["bytes"] > 0


def test_copy_into_seen_set_survives_checkpoint_and_new_handle(
    spark, tmp_path
):
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, checkpoint_interval=1,  # checkpoint EVERY commit
    )
    land = tmp_path / "landing"
    f1 = _land(spark, land, "a", [(1, 1, 1)])
    t.copy_into(f1)
    t.append(spark.createDataFrame([(9, 9, 1)], "k long, v long, ver long"))
    # fresh handle, skip set must replay from the checkpoint
    t2 = TxTable(spark, t.table_dir)
    assert f1 in t2.copied_files()
    _, n = t2.copy_into(f1)
    assert n == 0


def test_copy_into_missing_file_and_row_tracking(spark, tmp_path):
    t = _mk_ident(spark, tmp_path, row_tracking=True)
    with pytest.raises(FileNotFoundError):
        t.copy_into(str(tmp_path / "nope.parquet"))
    land = tmp_path / "landing"
    f1 = _land(spark, land, "a", [(1, 1, 1), (2, 2, 1)])
    t.copy_into(f1)
    got = {r["k"]: r["_row_id"] for r in t.read().collect()}
    assert got == {1: 0, 2: 1}  # ingestion allocates row ids


def test_copy_into_accepts_directories(spark, tmp_path):
    t = _mk_ident(spark, tmp_path)
    land = tmp_path / "landing"
    _land(spark, land, "a", [(1, 1, 1)])
    _land(spark, land, "b", [(2, 2, 1)])
    v, n = t.copy_into(str(land))  # a DIRECTORY: everything under it
    assert n == 2
    assert {r["k"] for r in t.read().collect()} == {1, 2}
    # _SUCCESS / dotfiles were skipped, and a re-run sees nothing new
    assert t.copy_into(str(land)) == (v, 0)


def test_copy_into_concurrent_same_file_loads_once(spark, tmp_path):
    import threading

    from pyspark import InheritableThread

    d = str(tmp_path / "t")
    TxTable.create(spark, d, key_cols=("k",), order_col="ver", n_buckets=2)
    land = tmp_path / "landing"
    f1 = _land(spark, land, "a", [(k, k, 1) for k in range(30)])
    barrier = threading.Barrier(2)
    results, errs = [], []

    def run():
        try:
            spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(  # noqa: E501
                spark._jsparkSession
            )
            t = TxTable(spark, d)
            barrier.wait()
            results.append(t.copy_into(f1, max_retries=10))
        except Exception as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    ths = [InheritableThread(target=run) for _ in range(2)]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert not errs, errs
    # exactly ONE writer loaded the file; the other skipped (n=0)
    assert sorted(n for _, n in results) == [0, 1], results
    assert TxTable(spark, d).read().count() == 30


# ---------------------------------------------------------------------------
# CONVERT TO txlog: zero-copy adoption of existing parquet
# ---------------------------------------------------------------------------


def _foreign_dir(spark, tmp_path, rows, parts=3):
    src = str(tmp_path / "foreign")
    spark.createDataFrame(rows, "k long, v long, ver long").repartition(
        parts
    ).write.mode("overwrite").parquet(src)
    return src


def test_convert_adopts_parquet_zero_copy(spark, tmp_path):
    rows = [(k, k * 10, 1) for k in range(1, 41)]
    src = _foreign_dir(spark, tmp_path, rows)
    t = TxTable.convert_from_parquet(
        spark, src, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=4,
    )
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {
        (k, v) for k, v, _ in rows
    }
    # zero-copy: every adopted entry references the source absolutely
    rec = _read_record(t.table_dir, 2)
    assert rec["op"] == "convert"
    assert all(e["bucket"] == -1 for e in rec["add"])
    assert all(e["path"].startswith("/") for e in rec["add"])
    # footer stats came along: a key-range prune skips whole files
    rep = t.prune_report({"k": (1, 1)})
    assert rep["files_skipped"] > 0
    assert {r["k"] for r in t.read(prune={"k": (1, 5)}).collect()} == {
        1, 2, 3, 4, 5,
    }


def test_convert_then_keyed_writes_and_adoption(spark, tmp_path):
    rows = [(k, k, 1) for k in range(1, 21)]
    src = _foreign_dir(spark, tmp_path, rows)
    t = TxTable.convert_from_parquet(
        spark, src, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=4,
    )
    # a keyed merge must SEE rows in bucket-spanning files (always-hit)
    t.merge_upsert(
        spark.createDataFrame(
            [(3, 333, 5), (100, 1, 1)], "k long, v long, ver long"
        )
    )
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[3] == 333 and got[100] == 1 and len(got) == 21
    # the merge rewrite re-bucketed everything it touched: no -1 left
    _, live, _ = t._snapshot()
    assert all(e["bucket"] != -1 for e in live)


def test_convert_compact_adopts_bucketing(spark, tmp_path):
    rows = [(k, k, 1) for k in range(1, 31)]
    src = _foreign_dir(spark, tmp_path, rows)
    # plain compact() adopts
    t = TxTable.convert_from_parquet(
        spark, src, str(tmp_path / "t1"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t.compact()
    _, live, _ = t._snapshot()
    assert live and all(e["bucket"] != -1 for e in live)
    assert t.read().count() == 30
    # size-aware binpack adopts too (the -1 group routes through the
    # re-bucket path inside the same commit)
    t2 = TxTable.convert_from_parquet(
        spark, src, str(tmp_path / "t2"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t2.compact(target_bytes=1 << 30)
    _, live2, _ = t2._snapshot()
    assert live2 and all(e["bucket"] != -1 for e in live2)
    assert {r["k"] for r in t2.read().collect()} == set(range(1, 31))


def test_convert_guards_and_datasource_read(spark, tmp_path):
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
    )

    with pytest.raises(FileNotFoundError):
        TxTable.convert_from_parquet(
            spark, str(tmp_path / "empty"), str(tmp_path / "t"),
            key_cols=("k",), order_col="ver",
        )
    rows = [(1, 1, 1)]
    src = _foreign_dir(spark, tmp_path, rows, parts=1)
    with pytest.raises(ValueError, match="lacks key/order"):
        TxTable.convert_from_parquet(
            spark, src, str(tmp_path / "t0"),
            key_cols=("nope",), order_col="ver",
        )
    t = TxTable.convert_from_parquet(
        spark, src, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
    )
    spark.dataSource.register(TxLogStreamSource)
    got = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .load()
        .collect()
    )
    assert [(r["k"], r["v"]) for r in got] == [(1, 1)]


def test_convert_row_level_ops_hit_adopted_files(spark, tmp_path):
    """Review fix: DELETE/UPDATE/replaceWhere find-scans key files by
    the 3-component path suffix while adopted entries store absolute
    paths — without normalization they silently no-op'd."""
    rows = [(k, k, 1) for k in range(1, 21)]
    src = _foreign_dir(spark, tmp_path, rows)
    t = TxTable.convert_from_parquet(
        spark, src, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    v, n = t.delete_where("k = 3")
    assert n == 1
    assert 3 not in {r["k"] for r in t.read().collect()}
    v, n = t.update_where("k = 4", {"v": "v + 100"})
    assert n == 1
    assert {r["k"]: r["v"] for r in t.read().collect()}[4] == 104
    t.replace_where(
        spark.createDataFrame([(5, 555, 9)], "k long, v long, ver long"),
        "k = 5",
    )
    assert {r["k"]: r["v"] for r in t.read().collect()}[5] == 555


def test_adopted_files_merge_on_read_dv_applies(spark, tmp_path):
    """Review fix: a deletion vector over an adopted (absolute-path)
    file was recorded under the scan's 3-suffix but looked up by the
    entry path — the delete reported success yet rows stayed visible.
    Covers both convert-adopted files and shallow clones."""
    rows = [(k, k, 1) for k in range(1, 11)]
    src = _foreign_dir(spark, tmp_path, rows, parts=1)
    t = TxTable.convert_from_parquet(
        spark, src, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    v, n = t.delete_where("k = 7", mode="merge_on_read")
    assert n == 1
    assert _read_record(t.table_dir, v)["dv"], "expected a DV commit"
    assert 7 not in {r["k"] for r in t.read().collect()}
    # same class on a shallow CLONE's absolute source references
    base = TxTable.create(
        spark, str(tmp_path / "b"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    base.append(spark.createDataFrame(rows, "k long, v long, ver long"))
    c = base.clone_to(str(tmp_path / "c"))
    v, n = c.delete_where("k = 2", mode="merge_on_read")
    assert n == 1
    assert _read_record(c.table_dir, v)["dv"]
    assert 2 not in {r["k"] for r in c.read().collect()}
    # update's DV twin on the adopted table
    v, n = t.update_where("k = 8", {"v": "v + 1"}, mode="merge_on_read")
    assert n == 1
    assert {r["k"]: r["v"] for r in t.read().collect()}[8] == 9


def test_convert_refusals_partitioned_and_existing(spark, tmp_path):
    rows = [(1, 1, 1)]
    # hive-partitioned sources ADOPT since round 9 (partition columns
    # inferred from directory names) — no longer a refusal
    part_src = str(tmp_path / "part")
    spark.createDataFrame(
        [(1, 1, 1, "a")], "k long, v long, ver long, p string"
    ).write.partitionBy("p").parquet(part_src)
    tp = TxTable.convert_from_parquet(
        spark, part_src, str(tmp_path / "t1"),
        key_cols=("k",), order_col="ver",
    )
    assert tp.meta.get("partition_by") == ["p"]
    assert [r["p"] for r in tp.read().collect()] == ["a"]
    src = _foreign_dir(spark, tmp_path, rows, parts=1)
    TxTable.create(
        spark, str(tmp_path / "pre"), key_cols=("user",), order_col="ver",
    )
    with pytest.raises(ValueError, match="already holds"):
        TxTable.convert_from_parquet(
            spark, src, str(tmp_path / "pre"),
            key_cols=("k",), order_col="ver",
        )


def test_convert_merges_heterogeneous_source_schemas(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 1, 1)], "k long, v long, ver long"
    ).coalesce(1).write.parquet(f"{src}/a")
    spark.createDataFrame(
        [(2, 2, 1, "x")], "k long, v long, ver long, extra string"
    ).coalesce(1).write.parquet(f"{src}/b")
    t = TxTable.convert_from_parquet(
        spark, src, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
    )
    got = {r["k"]: r["extra"] for r in t.read().collect()}
    assert got == {1: None, 2: "x"}  # union schema, NULL-fill


def test_copy_into_directory_skips_stray_files(spark, tmp_path):
    t = _mk_ident(spark, tmp_path)
    land = tmp_path / "landing"
    _land(spark, land, "a", [(1, 1, 1)])
    (land / "notes.txt").write_text("not data")
    (land / "half.tmp").write_text("upload in progress")
    v, n = t.copy_into(str(land))
    assert n == 1
    assert {r["k"] for r in t.read().collect()} == {1}


def test_checkpoint_copied_set_segments_and_legacy_migration(
    spark, tmp_path
):
    """The copied set lives in delta segments, not the checkpoint
    body: a checkpoint write is O(new paths), a legacy checkpoint's
    embedded 'copied' field still reads (and migrates into the first
    segment the next checkpoint writes), and a checkpoint with
    NEITHER must not forget earlier copy markers."""
    import shutil

    from kafka_flink_harshevents_spark.sources.txlog import (
        _copied_dir,
        _copied_segments,
    )

    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, checkpoint_interval=None,
    )
    land = tmp_path / "landing"
    f1 = _land(spark, land, "a", [(1, 1, 1)])
    t.copy_into(f1)
    t.append(spark.createDataFrame([(9, 9, 1)], "k long, v long, ver long"))
    t.checkpoint()
    # the checkpoint body no longer embeds the set; a segment does
    import glob as _g

    chk = sorted(_g.glob(os.path.join(t.table_dir, "_txlog", "chk-*.json")))[-1]
    d = json.load(open(chk))
    assert "copied" not in d
    segs = _copied_segments(t.table_dir)
    assert segs and f1 in json.load(open(segs[-1][1]))["paths"]
    assert f1 in t.copied_files()
    assert t.copy_into(f1)[1] == 0  # still skipped
    # legacy layout: no segments, 'copied' embedded in the checkpoint
    shutil.rmtree(_copied_dir(t.table_dir))
    d["copied"] = [f1]
    json.dump(d, open(chk, "w"))
    assert f1 in t.copied_files()  # fallback read
    t.append(spark.createDataFrame([(10, 1, 1)], "k long, v long, ver long"))
    t.checkpoint()  # migrates the embedded set into the first segment
    segs = _copied_segments(t.table_dir)
    assert segs and f1 in json.load(open(segs[-1][1]))["paths"]
    # the migrated segment is SELF-SUFFICIENT: even with the legacy
    # checkpoint's embedded field gone, the set survives
    d2 = json.load(open(chk))
    d2.pop("copied", None)
    json.dump(d2, open(chk, "w"))
    assert f1 in t.copied_files()
    assert t.copy_into(f1)[1] == 0
    # legacy checkpoint WITHOUT 'copied' and no segments: replay from
    # the records alone still finds every marker
    shutil.rmtree(_copied_dir(t.table_dir))
    d.pop("copied")
    json.dump(d, open(chk, "w"))
    assert f1 in t.copied_files()
    assert t.copy_into(f1)[1] == 0


def test_copied_segments_fold(spark, tmp_path):
    """Every _COPIED_FOLD_EVERY-th checkpoint folds the segment chain
    into one base — segment count stays bounded, the union stays
    exact, and every ingested file keeps skipping."""
    from kafka_flink_harshevents_spark.sources.txlog import (
        _COPIED_FOLD_EVERY,
        _copied_segments,
    )

    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, checkpoint_interval=None,
    )
    land = tmp_path / "landing"
    files = []
    for i in range(_COPIED_FOLD_EVERY + 2):
        f = _land(spark, land, f"f{i}", [(i, i, 1)])
        t.copy_into(f)
        t.checkpoint()
        files.append(os.path.abspath(f))
    segs = _copied_segments(t.table_dir)
    assert 1 <= len(segs) <= _COPIED_FOLD_EVERY
    bodies = [json.load(open(p)) for _, p in segs]
    assert any(b["base_version"] == 0 for b in bodies)  # folded
    assert set(files) <= t.copied_files()
    for f in files:
        assert t.copy_into(f)[1] == 0  # all still skipped


def test_auto_ingest_streams_landing_zone_exactly_once(spark, tmp_path):
    """Auto-Loader-shaped ingestion: the file stream source tracks new
    files in its checkpoint; each run drains exactly the backlog into
    exactly-once commits, and a re-run with nothing new ingests
    nothing."""
    t = _mk_ident(spark, tmp_path, row_tracking=True)
    t.append(spark.createDataFrame(
        [(0, 0, 1)], "k long, v long, ver long"))  # schema seed
    land = str(tmp_path / "land")
    spark.createDataFrame(
        [(1, 1, 1), (2, 2, 1)], "k long, v long, ver long"
    ).coalesce(1).write.parquet(land)
    ckpt = str(tmp_path / "ckpt")
    q = t.auto_ingest(land, ckpt)
    q.awaitTermination(120)
    assert {r["k"] for r in t.read().collect()} == {0, 1, 2}
    # nothing new: a second run ingests nothing
    v_before = t.latest_version()
    q = t.auto_ingest(land, ckpt)
    q.awaitTermination(120)
    assert t.latest_version() == v_before
    # a new file lands: the next run picks up exactly it, with row
    # tracking continuing the watermark
    spark.createDataFrame(
        [(3, 3, 1)], "k long, v long, ver long"
    ).coalesce(1).write.mode("append").parquet(land)
    q = t.auto_ingest(land, ckpt)
    q.awaitTermination(120)
    got = {r["k"]: r["_row_id"] for r in t.read().collect()}
    assert set(got) == {0, 1, 2, 3} and got[3] == 3
    # merge mode + schema-less refusal
    with pytest.raises(ValueError, match="no recorded schema"):
        TxTable.create(
            spark, str(tmp_path / "empty"), ("k",), "ver"
        ).auto_ingest(land, str(tmp_path / "c2"))


def test_adopted_dv_change_feed_emits_deletes(spark, tmp_path):
    """Review fix: the CDF derivation for merge-on-read DV commits
    joined stored entry paths (absolute on adopted files) against the
    scan's 3-suffix — the feed silently held no delete rows."""
    rows = [(k, k, 1) for k in range(1, 6)]
    src = _foreign_dir(spark, tmp_path, rows, parts=1)
    t = TxTable.convert_from_parquet(
        spark, src, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    v, n = t.delete_where("k = 3", mode="merge_on_read")
    assert n == 1
    ch = t.table_changes(v).collect()
    assert [(r["k"], r["_change_type"]) for r in ch] == [(3, "delete")]


def test_copy_into_compressed_and_text_extensions(spark, tmp_path):
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    land = tmp_path / "land"
    spark.createDataFrame(
        [(1, 1, 1), (2, 2, 1)], "k long, v long, ver long"
    ).coalesce(1).write.option("compression", "gzip").csv(
        str(land), header=True
    )
    (land / "junk.bin").write_text("x")
    v, n = t.copy_into(
        str(land), file_format="csv",
        options={"header": "true", "inferSchema": "true"},
    )
    assert n == 1  # the .csv.gz part file, not junk.bin
    assert {r["k"] for r in t.read().collect()} == {1, 2}


def test_auto_ingest_generated_and_by_default_identity(spark, tmp_path):
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
        generated_cols={"v2": "v * 2"},
        identity_cols={"rid": {"always": False}},
    )
    t.append(spark.createDataFrame([(0, 5, 1)], "k long, v long, ver long"))
    land = str(tmp_path / "land")
    # landing files carry an EXPLICIT by-default id and no generated col
    spark.createDataFrame(
        [(1, 10, 1, 77)], "k long, v long, ver long, rid long"
    ).coalesce(1).write.parquet(land)
    q = t.auto_ingest(land, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {r["k"]: (r["v2"], r["rid"]) for r in t.read().collect()}
    assert got[1] == (20, 77)   # generated computed; explicit id kept
    assert got[0][1] == 1       # seeded row allocated from watermark


def test_copy_into_and_convert_skip_hidden_dirs_and_tmp(spark, tmp_path):
    """Review fix: walks must prune hidden/metadata DIRECTORIES
    (_temporary, .spark-staging, _delta_log) and must not ingest
    half-uploaded *.parquet.tmp files via the compression infix."""
    t = _mk_ident(spark, tmp_path)
    land = tmp_path / "land"
    _land(spark, land, "a", [(1, 1, 1)])
    tmpdir = land / "_temporary" / "0"
    tmpdir.mkdir(parents=True)
    # a REAL parquet file hiding inside _temporary (in-flight task)
    spark.createDataFrame(
        [(99, 99, 1)], "k long, v long, ver long"
    ).coalesce(1).write.parquet(str(tmpdir / "task"))
    (land / "events.parquet.tmp").write_text("partial upload")
    v, n = t.copy_into(str(land))
    assert n == 1
    assert {r["k"] for r in t.read().collect()} == {1}
    # convert: a _delta_log-style metadata dir is not adopted
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 1, 1)], "k long, v long, ver long"
    ).coalesce(1).write.parquet(src)
    meta = tmp_path / "src" / "_delta_log"
    meta.mkdir()
    spark.createDataFrame(
        [("chk",)], "junk string"
    ).coalesce(1).write.parquet(str(meta / "00000000000000000010.checkpoint"))
    t2 = TxTable.convert_from_parquet(
        spark, src, str(tmp_path / "t2"), key_cols=("k",), order_col="ver",
    )
    assert t2.read().columns == ["k", "v", "ver"]
    assert t2.read().count() == 1


def test_convert_refuses_suffix_collisions(spark, tmp_path):
    import shutil

    src = str(tmp_path / "src")
    one = _land(spark, tmp_path, "one", [(1, 1, 1)])
    for sub in ("x", "y"):
        d = os.path.join(src, sub, "d", "e")
        os.makedirs(d)
        shutil.copy(one, os.path.join(d, "part-0.parquet"))
    with pytest.raises(ValueError, match="collide"):
        TxTable.convert_from_parquet(
            spark, src, str(tmp_path / "t"), key_cols=("k",),
            order_col="ver",
        )


def test_by_default_identity_update_keeps_existing_id(spark, tmp_path):
    """Review fix: an explicit BY DEFAULT value on an EXISTING key must
    not replace the row's identity (an update may not change identity);
    explicit values apply to new keys only. Same rule through
    apply_cdc."""
    t = _mk_ident(
        spark, tmp_path, identity_cols={"rid": {"always": False}},
    )
    t.append(spark.createDataFrame(
        [(1, 1, 1), (2, 2, 1)], "k long, v long, ver long"))
    before = {r["k"]: r["rid"] for r in t.read().collect()}
    t.merge_upsert(spark.createDataFrame(
        [(1, 11, 9, 777), (30, 3, 1, 555)],
        "k long, v long, ver long, rid long",
    ))
    got = {r["k"]: r["rid"] for r in t.read().collect()}
    assert got[1] == before[1]   # existing id kept, 777 ignored
    assert got[30] == 555        # explicit value honored on a NEW key
    t.apply_cdc(spark.createDataFrame(
        [(2, 22, 9, 888, "U"), (40, 4, 1, 666, "U")],
        "k long, v long, ver long, rid long, op string",
    ))
    got = {r["k"]: r["rid"] for r in t.read().collect()}
    assert got[2] == before[2] and got[40] == 666


def test_copy_into_races_identity_appends(spark, tmp_path):
    """Cross-feature stress: concurrent copy_into calls over the same
    landing file racing plain appends on a row-tracking table — the
    duplicate-load precommit guard and the identity watermark restage
    must compose: the file loads exactly once, every append lands, and
    all row ids stay unique."""
    import threading

    from pyspark import InheritableThread

    d = str(tmp_path / "t")
    TxTable.create(
        spark, d, key_cols=("k",), order_col="ver", n_buckets=2,
        row_tracking=True,
    )
    land = tmp_path / "landing"
    f1 = _land(spark, land, "a", [(k, k, 1) for k in range(100, 120)])
    barrier = threading.Barrier(3)
    results, errs = [], []

    def copier():
        try:
            spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(  # noqa: E501
                spark._jsparkSession
            )
            t = TxTable(spark, d)
            barrier.wait()
            results.append(t.copy_into(f1, max_retries=15))
        except Exception as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    def appender():
        try:
            spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(  # noqa: E501
                spark._jsparkSession
            )
            t = TxTable(spark, d)
            barrier.wait()
            for i in range(3):
                t.append(
                    spark.createDataFrame(
                        [(i, i, 1)], "k long, v long, ver long"
                    ),
                    max_retries=25,
                )
        except Exception as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    ths = [
        InheritableThread(target=copier),
        InheritableThread(target=copier),
        InheritableThread(target=appender),
    ]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert not errs, errs
    assert sorted(n for _, n in results) == [0, 1]  # loaded exactly once
    t = TxTable(spark, d)
    rows = t.read().collect()
    assert len(rows) == 23  # 20 copied + 3 appended
    ids = [r["_row_id"] for r in rows]
    assert len(set(ids)) == 23
    assert max(ids) < t._identity_counters()["_row_id"]


def test_identity_inherit_follows_latest_existing_duplicate(
    spark, tmp_path
):
    """ADVICE r08: blind appends can leave DUPLICATE rows for one key.
    A later keyed merge must inherit the identity of the LATEST-WINS
    existing row (the survivor), not the per-key max id among the
    duplicates — otherwise the surviving row's id silently rewrites,
    drifting from the row-tracking 'preserved byte-identically'
    contract. Ids chosen so the later row has the SMALLER id, which
    the old max-based inheritance would get wrong."""
    t = _mk_ident(
        spark, tmp_path, identity_cols={"rid": {"always": False}},
    )
    sch = "k long, v long, ver long, rid long"
    t.append(spark.createDataFrame([(1, 10, 1, 100)], sch))
    t.append(spark.createDataFrame([(1, 11, 2, 5)], sch))  # dup key
    t.merge_upsert(
        spark.createDataFrame([(1, 12, 3)], "k long, v long, ver long")
    )
    rows = t.read().collect()
    assert len(rows) == 1
    assert rows[0]["v"] == 12 and rows[0]["rid"] == 5
    # same contract through the CDC path
    t.append(spark.createDataFrame([(2, 20, 1, 70)], sch))
    t.append(spark.createDataFrame([(2, 21, 2, 7)], sch))
    t.apply_cdc(
        spark.createDataFrame(
            [(2, 22, 3, "U")], "k long, v long, ver long, op string"
        )
    )
    got = {r["k"]: r for r in t.read().collect()}
    assert got[2]["v"] == 22 and got[2]["rid"] == 7


def test_copy_into_wrong_format_directory_raises(spark, tmp_path):
    """ADVICE r08 + r09: a landing directory holding DATA files of
    another format must not look identical to an up-to-date zone —
    raise on the mis-specified file_format. A genuinely empty
    directory stays a silent no-op (the cron-poll case), and so does
    one holding only doc/metadata strays (README, manifest.json) —
    a stray must never turn every poll into a hard failure."""
    t = _mk(spark, tmp_path, n_buckets=2)
    land = tmp_path / "land"
    spark.createDataFrame(
        [(1, 1, 1)], "k long, v long, ver long"
    ).coalesce(1).write.option("header", "true").csv(str(land / "d"))
    with pytest.raises(FileNotFoundError, match="another format"):
        t.copy_into(str(land / "d"))  # parquet over a csv landing dir
    (land / "empty").mkdir()
    _, n = t.copy_into(str(land / "empty"))
    assert n == 0
    # strays alone are NOT a wrong-format signal: idle parquet zone
    # with a manifest.json + README keeps returning (version, 0)
    stray = land / "stray"
    stray.mkdir()
    (stray / "manifest.json").write_text("{}")
    (stray / "README").write_text("landing zone")
    (stray / "notes.txt").write_text("ops notes")
    _, n = t.copy_into(str(stray))
    assert n == 0
    # but an unambiguous foreign data file still raises
    (stray / "part-0001.csv").write_text("k,v\n1,2\n")
    with pytest.raises(FileNotFoundError, match="another format"):
        t.copy_into(str(stray))
    # the matching format still loads the same directory
    _, n = t.copy_into(
        str(land / "d"),
        file_format="csv",
        options={"inferSchema": "true", "header": "true"},
    )
    assert n == 1


@pytest.mark.slow
def test_drain_available_fully_drains_paced_backlog(spark, tmp_path):
    """drain_available is the API form of the pinned single-batch
    caveat: a 3-commit backlog behind maxfilespertrigger=2 needs three
    AvailableNow runs — one call drains them all, exactly-once, and a
    second call is a no-op."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        drain_available,
    )

    _register_txlog(spark)
    t = _mk(spark, tmp_path, n_buckets=2)
    for i in range(3):
        t.append(spark.createDataFrame(
            [(f"k{i}-{j}", i, 1) for j in range(4)],
            "k string, v long, ver long"))
    got: set = set()

    def sink(bdf, _bid):
        got.update((r["k"], r["_commit_version"]) for r in bdf.collect())

    def start():
        return (
            spark.readStream.format("txlog")
            .option("tabledir", t.table_dir)
            .option("maxfilespertrigger", "2")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )

    runs, rows = drain_available(start)
    assert runs == 3 and rows == 12
    assert len(got) == 12
    # caught up: the next call is an immediate no-op
    assert drain_available(start) == (0, 0)
    # new commits drain again through the same checkpoint
    t.append(spark.createDataFrame(
        [("x", 9, 1)], "k string, v long, ver long"))
    runs, rows = drain_available(start)
    assert (runs, rows) == (1, 1) and ("x", 5) in got


def test_drain_available_timeout_stops_and_raises(spark, tmp_path):
    """ADVICE r09: a run still ACTIVE at timeout_per_run is not a
    drained backlog — drain_available must stop the query and raise
    (zero observed progress from a hung run previously returned
    'drained' while the query kept running, letting the next
    start_query() overlap it on the same checkpoint)."""
    from kafka_flink_harshevents_spark.sources.txstream import (
        drain_available,
    )

    started = []

    def start():
        q = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "1")
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck-rate"))
            .start()  # continuous trigger: never self-terminates
        )
        started.append(q)
        return q

    with pytest.raises(TimeoutError, match="did not terminate"):
        drain_available(start, timeout_per_run=3.0)
    assert started and not started[0].isActive  # stopped, not leaked


def test_add_columns_metadata_only(spark, tmp_path):
    """ALTER TABLE ADD COLUMN: a schema-only commit — old files
    NULL-fill, later writes carry the column, backfill via
    update_where, guards refuse existing/dropped/physical/reserved
    names, time travel sees the narrow schema, and the stream skips
    the metadata commit."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(spark.createDataFrame(
        [(1, 10, 1), (2, 20, 1)], "k long, v long, ver long"))
    v_before = t.latest_version()
    t.add_columns({"note": "string", "score": "double"})
    sch = dict(t.read().dtypes)
    assert sch["note"] == "string" and sch["score"] == "double"
    assert {r["note"] for r in t.read().collect()} == {None}
    # time travel predates the column
    assert "note" not in t.read(version=v_before).columns
    # backfill + later writes carry it
    t.update_where("k = 1", {"note": "'x'", "score": "0.5"})
    t.append(spark.createDataFrame(
        [(3, 30, 1, "y", 1.5)],
        "k long, v long, ver long, note string, score double"))
    got = {r["k"]: (r["note"], r["score"]) for r in t.read().collect()}
    assert got == {1: ("x", 0.5), 2: (None, None), 3: ("y", 1.5)}
    # guards
    with pytest.raises(ValueError, match="already exists"):
        t.add_columns({"v": "long"})
    with pytest.raises(ValueError, match="reserved"):
        t.add_columns({"_x": "long"})
    with pytest.raises(ValueError, match="unparseable"):
        t.add_columns({"bad": "no_such_type<>"})
    t.drop_columns(("note",))
    with pytest.raises(ValueError, match="was dropped"):
        t.add_columns({"note": "string"})
    t.rename_column("score", "points")
    with pytest.raises(ValueError, match="PHYSICAL"):
        t.add_columns({"score": "double"})
    # the SQL surface + stream-skip
    from kafka_flink_harshevents_spark.sources.txsql import txsql

    txsql(spark, "ALTER TABLE t ADD COLUMNS (flag BOOLEAN, n LONG)",
          tables={"t": t})
    assert "flag" in t.read().columns
    _register_txlog(spark)
    got2: list = []

    def sink(bdf, _bid):
        got2.extend(r["k"] for r in bdf.collect())

    q = (
        spark.readStream.format("txlog")
        .option("tabledir", t.table_dir)
        .option("ignorechanges", "true")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got2) == [1, 1, 2, 3]  # data commits only (update rewrote k=1)


# vacuum × checkpoint interplay program: merges build history, updates
# rewrite files (creating vacuum-reclaimable dead ones), checkpoints
# move the replay floor, vacuums reclaim under varying retention. The
# composition is what a long-lived production table actually runs.
_vc_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("merge"),
            st.lists(st.integers(0, 9), min_size=1, max_size=4,
                     unique=True),
        ),
        st.tuples(st.just("update"), st.integers(0, 9)),
        st.tuples(st.just("checkpoint"), st.just(0)),
        st.tuples(st.just("vacuum"), st.integers(1, 4)),
    ),
    min_size=3,
    max_size=10,
)


@given(ops=_vc_ops)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_vacuum_checkpoint_interplay_property(
    spark, tmp_path_factory, ops
):
    """Property: any interleaving of merges, file-rewriting updates,
    log checkpoints, and vacuums (varying retention) keeps (a) the
    latest snapshot equal to the model after EVERY op — including
    through a FRESH handle, so the state survives the checkpoint
    replay floor moving; (b) every version retained by EVERY vacuum
    so far still time-travelable to its recorded model state
    (retention is not retroactive: a later, wider vacuum cannot
    resurrect files an earlier, stricter one legitimately reclaimed —
    those versions leave the checkable set); (c) vacuum's reclaim
    list disjoint from the files the latest checkpoint calls
    live."""
    tmp = tmp_path_factory.mktemp("txvc")
    t = TxTable.create(
        spark, str(tmp / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, checkpoint_interval=None,
    )
    model: dict[str, tuple[int, int]] = {}
    history: dict[int, dict] = {}
    dead_versions: set[int] = set()  # fell outside some vacuum's cut
    ver = 0
    for kind, arg in ops:
        if kind == "merge":
            rows = []
            for ki in arg:
                ver += 1
                rows.append((f"k{ki}", ki * 1000 + ver, ver))
                model[f"k{ki}"] = (ki * 1000 + ver, ver)
            v = t.merge_upsert(
                spark.createDataFrame(rows, "k string, v long, ver long")
            )
            history[v] = dict(model)
        elif kind == "update" and model:
            key = f"k{arg}"
            if key in model:
                ver += 1
                t.update_where(
                    f"k = '{key}'", {"v": str(arg * 1000 + ver)}
                )
                model[key] = (arg * 1000 + ver, model[key][1])
                history[t.latest_version()] = dict(model)
        elif kind == "checkpoint":
            t.checkpoint()
        elif kind == "vacuum":
            # (c): nothing the reclaim would delete is live at HEAD
            from kafka_flink_harshevents_spark.sources.txlog import (
                _latest_checkpoint,
            )

            would = set(t.vacuum(retain_versions=arg, dry_run=True))
            chk = _latest_checkpoint(
                t.table_dir, t.latest_version()
            )
            if chk is not None:
                assert not (
                    would & {e["path"] for e in chk["live"]}
                )
            t.vacuum(retain_versions=arg)
            all_vs = __import__(
                "kafka_flink_harshevents_spark.sources.txlog",
                fromlist=["_list_versions"],
            )._list_versions(t.table_dir)
            kept = set(all_vs[-arg:])
            dead_versions |= set(all_vs) - kept
            # (b): every always-retained committed snapshot still reads
            for hv, snap in history.items():
                if hv in kept and hv not in dead_versions:
                    assert _rows(t, version=hv) == snap
        if model:
            assert _rows(t) == model
            # (a): a fresh handle (no cached state) agrees
            assert _rows(TxTable(spark, t.table_dir)) == model
    for hv in sorted(history)[-1:]:
        assert _rows(t, version=hv) == history[hv]


def test_concurrent_copy_into_and_checkpoints(spark, tmp_path):
    """Concurrent copied-set maintenance: two threads interleave
    copy_into (disjoint landing files) with explicit checkpoints —
    enough checkpoints to cross the fold threshold under race. The
    segment-publication invariants (create-if-absent names, fold
    deletes inputs only after winning) must keep the union exact:
    every file ever ingested stays in the skip set, every re-copy is
    a no-op, and no file double-ingests."""
    import threading

    from pyspark import InheritableThread

    from kafka_flink_harshevents_spark.sources.txlog import (
        _copied_segments,
    )

    t = _mk(spark, tmp_path, n_buckets=2)
    land = tmp_path / "landing"
    errs: list = []
    files: dict[int, list[str]] = {0: [], 1: []}
    n_each = 7  # 14 checkpoints total — crosses _COPIED_FOLD_EVERY

    def run(i: int) -> None:
        try:
            spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(  # noqa: E501
                spark._jsparkSession
            )
            for j in range(n_each):
                f = _land(
                    spark, land, f"t{i}-{j}",
                    [(i * 1000 + j, j, 1)],
                )
                _, n = t.copy_into(f, max_retries=40)
                assert n == 1, (i, j, n)
                files[i].append(os.path.abspath(f))
                t.checkpoint()
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    th = [InheritableThread(target=run, args=(i,)) for i in (0, 1)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs, errs
    everything = set(files[0]) | set(files[1])
    assert everything <= t.copied_files()
    # no double ingestion: exactly one row per landed file
    assert t.read().count() == 2 * n_each
    # every re-copy skips
    for f in sorted(everything):
        assert t.copy_into(f)[1] == 0
    # segments stay bounded and cover the whole set after re-reads
    segs = _copied_segments(t.table_dir)
    assert segs, "checkpoints must have produced segments"
    t2 = TxTable(spark, t.table_dir)  # fresh handle, no cached state
    assert everything <= t2.copied_files()


def test_copy_into_unknown_extension_still_raises(spark, tmp_path):
    """Review r10: a landing zone of data files in a format this
    engine does not even load (.arrow) must still fail loudly under a
    wrong file_format — the benign-allowlist policy, not a known-
    data-extension list, gates the raise."""
    t = _mk(spark, tmp_path, n_buckets=2)
    land = tmp_path / "arrowzone"
    land.mkdir()
    (land / "part-0001.arrow").write_bytes(b"ARROW1")
    with pytest.raises(FileNotFoundError, match="another format"):
        t.copy_into(str(land))
    # benign docs/config stay quiet
    for nm in ("README.md", "run.log", "job.yaml", "upload.tmp"):
        (land / nm).unlink(missing_ok=True)
    quiet = tmp_path / "quiet"
    quiet.mkdir()
    (quiet / "README.md").write_text("docs")
    (quiet / "job.yaml").write_text("cfg: 1")
    (quiet / "upload.tmp").write_text("inflight")
    assert t.copy_into(str(quiet))[1] == 0


def test_copied_floor_advances_without_new_copies(spark, tmp_path):
    """Review r10: after one copy_into, a long run of ordinary
    commits + checkpoints must keep advancing the copied-set floor —
    a frozen floor re-reads every record since the copy event on
    every checkpoint and copied_files() call."""
    from kafka_flink_harshevents_spark.sources.txlog import (
        _copied_segments,
    )

    t = _mk(spark, tmp_path, n_buckets=2)
    land = tmp_path / "landing"
    f1 = _land(spark, land, "a", [(1, 1, 1)])
    t.copy_into(f1)
    t.checkpoint()
    for i in range(3):
        t.append(spark.createDataFrame(
            [(100 + i, i, 1)], "k long, v long, ver long"))
        t.checkpoint()
    segs = _copied_segments(t.table_dir)
    assert segs[-1][0] == t.latest_version()  # floor tracks HEAD
    assert f1 in t.copied_files()
    assert t.copy_into(f1)[1] == 0


def test_foreign_data_file_bare_compression_suffix():
    """copy_into stray policy: an extension-less COMPRESSED file
    (data.gz) is foreign data — a zone full of them must raise the
    wrong-file_format error, not silently no-op (regression: the
    compression suffix was stripped first, leaving no dot, and the
    file classified benign)."""
    from kafka_flink_harshevents_spark.sources.txlog import (
        _is_foreign_data_file,
    )

    assert _is_foreign_data_file("zone/data.gz")
    assert _is_foreign_data_file("dump.zst")
    # stray-basename and uncompressed extension-less stay benign
    assert not _is_foreign_data_file("zone/readme.gz")
    assert not _is_foreign_data_file("zone/data")
    assert not _is_foreign_data_file("zone/notes.md")
    # the pre-existing compressed-data classification is unchanged
    assert _is_foreign_data_file("zone/x.csv.gz")


def test_copied_fold_vanished_inputs_falls_back_to_delta(
    spark, tmp_path, monkeypatch
):
    """A fold whose inputs vanished under a CONCURRENT fold at a
    higher version must not publish a base-0 segment missing all
    history — it falls back to a plain delta against the floor it
    listed (regression: an in-flight copied_files() reader in the gap
    could see an incomplete skip set and copy_into could re-ingest)."""
    import kafka_flink_harshevents_spark.sources.txlog as txmod
    from kafka_flink_harshevents_spark.sources.txlog import (
        _COPIED_FOLD_EVERY,
        _copied_segments,
    )

    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, checkpoint_interval=None,
    )
    land = tmp_path / "landing"
    files = []
    for i in range(_COPIED_FOLD_EVERY - 1):
        f = _land(spark, land, f"f{i}", [(i, i, 1)])
        t.copy_into(f)
        t.checkpoint()
        files.append(os.path.abspath(f))
    # the next checkpoint would fold; simulate every listed input
    # vanishing between the listing and the base read
    monkeypatch.setattr(txmod, "_copied_base", lambda d, v: (0, set()))
    f = _land(spark, land, "last", [(99, 99, 1)])
    t.copy_into(f)
    t.checkpoint()
    monkeypatch.undo()
    files.append(os.path.abspath(f))
    segs = _copied_segments(t.table_dir)
    bodies = [json.load(open(p)) for _, p in segs]
    newest = max(bodies, key=lambda b: b["version"])
    assert newest["base_version"] != 0  # delta, not a false full fold
    # nothing was deleted or lost: the union stays complete and every
    # ingested file keeps skipping
    assert set(files) <= t.copied_files()
    for f in files:
        assert t.copy_into(f)[1] == 0


def test_merge_rewrites_only_candidate_files(spark, tmp_path):
    """FILE-level merge pruning within a touched bucket: files whose
    recorded key [min, max] provably misses every source key carry
    forward unrewritten (same relative paths) — write amplification
    ∝ files with matches, not bucket size. Both merge paths."""
    t = _mk(spark, tmp_path, n_buckets=1)  # one bucket holds all files
    for lo in (0, 100, 200):  # 3 appends → 3 files, disjoint k ranges
        t.append(spark.createDataFrame(
            [(f"{k:04d}", k, 1) for k in range(lo, lo + 50)],
            "k string, v long, ver long",
        ))
    _, live_before, _ = t._snapshot()
    assert len(live_before) == 3
    # merge_upsert touching only the middle file's range
    t.merge_upsert(spark.createDataFrame(
        [("0110", -1, 2), ("0149", -2, 2)], "k string, v long, ver long"
    ))
    _, live_after, _ = t._snapshot()
    before = {e["path"] for e in live_before}
    after = {e["path"] for e in live_after}
    assert len(before - after) == 1  # exactly ONE file rewritten
    rows = _rows(t)
    assert rows["0110"] == (-1, 2) and rows["0149"] == (-2, 2)
    assert rows["0000"] == (0, 1) and rows["0249"] == (249, 1)
    assert len(rows) == 150
    # merge_into: update + insert, still one candidate file
    _, live_before, _ = t._snapshot()
    t.merge_into(
        spark.createDataFrame(
            [("0205", -5, 3), ("0300", 300, 3)],
            "k string, v long, ver long",
        ),
        when_matched="update",
        when_not_matched="insert",
    )
    _, live_after, _ = t._snapshot()
    before = {e["path"] for e in live_before}
    after = {e["path"] for e in live_after}
    assert len(before - after) == 1
    rows = _rows(t)
    assert rows["0205"] == (-5, 3) and rows["0300"] == (300, 3)
    assert rows["0110"] == (-1, 2) and len(rows) == 151
    # a source OUTSIDE every file's range rewrites NOTHING
    _, live_before, _ = t._snapshot()
    t.merge_into(
        spark.createDataFrame([("0500", 500, 4)],
                              "k string, v long, ver long"),
        when_matched="update",
        when_not_matched="insert",
    )
    _, live_after, _ = t._snapshot()
    assert {e["path"] for e in live_before} <= {
        e["path"] for e in live_after
    }
    assert _rows(t)["0500"] == (500, 4)


def test_merge_prune_bloom_and_by_source_full_scan(spark, tmp_path):
    """Interleaved key ranges (min/max everywhere-overlapping) still
    prune via the per-file key bloom — the per-value probe engages
    above the small-candidate-set floor (>4 files) where it pays for
    its extra job; a by-source clause scans the whole table (any row
    may be unmatched) and must NOT prune."""
    t = TxTable.create(
        spark, str(tmp_path / "tb"), key_cols=("k",), order_col="ver",
        n_buckets=1, bloom_cols=("k",),
    )
    for r in range(6):  # 6 stripes, every file spans [0000, 0299]
        t.append(spark.createDataFrame(
            [(f"{k:04d}", k, 1) for k in range(r, 300, 6)],
            "k string, v long, ver long",
        ))
    _, live_before, _ = t._snapshot()
    assert len(live_before) == 6
    t.merge_upsert(spark.createDataFrame(
        [("0102", -1, 2)], "k string, v long, ver long"
    ))
    _, live_after, _ = t._snapshot()
    rewritten = {e["path"] for e in live_before} - {
        e["path"] for e in live_after
    }
    assert len(rewritten) == 1  # bloom excluded the other 5 stripes
    assert _rows(t)["0102"] == (-1, 2) and _rows(t)["0101"] == (101, 1)
    # by-source clause: every live file rewrites (full-table scope)
    _, live_before, _ = t._snapshot()
    t.merge_into(
        spark.createDataFrame([("0100", -2, 3)],
                              "k string, v long, ver long"),
        when_matched="update",
        when_not_matched="insert",
        when_not_matched_by_source="delete",
        by_source_condition="t.k = '0299'",
    )
    _, live_after, _ = t._snapshot()
    assert not ({e["path"] for e in live_before}
                & {e["path"] for e in live_after})
    rows = _rows(t)
    assert rows["0100"] == (-2, 3) and "0299" not in rows


@pytest.mark.slow
def test_merge_prune_latest_wins_fuzz(spark, tmp_path):
    """Randomized program of blind appends (duplicate keys allowed)
    and merges: whatever the file-level find-phase prunes, the keyed
    contract must hold — every key's LATEST row (max order_col) is
    exactly the model's, and no key appears or vanishes. Runs a
    deterministic pseudo-random program long enough to mix pruned,
    unpruned, and empty-candidate merges across buckets."""
    import random

    rng = random.Random(0xC0FFEE)
    t = TxTable.create(
        spark, str(tmp_path / "fz"), key_cols=("k",), order_col="ord",
        n_buckets=2, bloom_cols=("k",),
    )
    model: dict[int, tuple[int, int]] = {}
    order = 0
    for step in range(14):
        order += 1
        kind = rng.choice(["append", "merge", "merge", "merge_into"])
        if kind == "append":
            keys = rng.sample(range(200), rng.randint(1, 12))
            rows = [(k, k * 1000 + step, order) for k in keys]
            t.append(spark.createDataFrame(
                rows, "k long, v long, ord long"
            ))
            for k, v, o in rows:
                if k not in model or model[k][1] <= o:
                    model[k] = (v, o)
        else:
            lo = rng.choice([0, 50, 120, 180])
            keys = rng.sample(range(lo, min(lo + 40, 200)),
                              rng.randint(1, 6))
            rows = [(k, -(k + step), order) for k in keys]
            src = spark.createDataFrame(rows, "k long, v long, ord long")
            if kind == "merge":
                t.merge_upsert(src)
            else:
                t.merge_into(
                    src, when_matched="update", when_not_matched="insert"
                )
            for k, v, o in rows:
                if k not in model or model[k][1] <= o:
                    model[k] = (v, o)
    from pyspark.sql import functions as FF
    got = {
        r["k"]: (r["v"], r["ord"])
        for r in t.read()
        .groupBy("k")
        .agg(FF.max_by(FF.struct("v", "ord"), "ord").alias("s"))
        .select("k", "s.v", "s.ord")
        .collect()
    }
    assert got == model


def test_set_unset_properties_and_auto_compact(spark, tmp_path):
    """Free table properties are metadata-only commits replayed over
    the create record (SET patches, UNSET removes, structural keys
    refused, time travel sees the pre-SET meta); the engine-
    interpreted `auto_compact_files` triggers a size-aware partial
    compaction after a data commit once some bucket's live file
    count reaches it — and stops after UNSET."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    v_pre = t.set_properties({"owner": "pipeline", "pii": "none"})
    assert t.meta["owner"] == "pipeline"
    assert t.meta_at(v_pre - 1).get("owner") is None  # time travel
    t.unset_properties(["pii"])
    assert "pii" not in t.meta and t.meta["owner"] == "pipeline"
    with pytest.raises(ValueError, match="structural"):
        t.set_properties({"n_buckets": 64})
    with pytest.raises(ValueError, match="structural"):
        t.unset_properties(["key_cols"])

    # auto-compact: 4 small appends cross the threshold → the write
    # path itself compacts (history gains a compact op, live file
    # count collapses, rows intact)
    t.set_properties({"auto_compact_files": 4})
    for i in range(4):
        t.append(spark.createDataFrame(
            [(i * 10 + j, j, 1) for j in range(5)],
            "k long, v long, ver long",
        ))
    _, live, _ = t._snapshot()
    per_bucket: dict = {}
    for e in live:
        per_bucket[e["bucket"]] = per_bucket.get(e["bucket"], 0) + 1
    assert max(per_bucket.values()) < 4  # compaction fired
    ops = [r["op"] for r in t.history().collect()]
    assert "compact" in ops
    assert t.read().count() == 20
    # UNSET stops it: pile up small files freely again
    t.unset_properties(["auto_compact_files"])
    for i in range(4, 10):
        t.append(spark.createDataFrame(
            [(i * 10 + j, j, 1) for j in range(5)],
            "k long, v long, ver long",
        ))
    n_compacts = [r["op"] for r in t.history().collect()].count("compact")
    assert n_compacts == ops.count("compact")  # no new compaction
    assert t.read().count() == 50


def test_upsert_sink_with_auto_compact_replay(spark, tmp_path):
    """Streaming × autoCompact: the foreachBatch transactional MERGE
    triggers the write-path compaction once a bucket's small files
    reach the property threshold, the compact commit (no txn marker)
    does NOT disturb last_committed_batch, and checkpoint-recovery
    replays stay no-ops across the interleaved layout commit."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.set_properties({"auto_compact_files": 3})
    sink = t.upsert_sink(app_id="stream1")
    for b in range(5):  # each merge adds one small file to the bucket
        sink(
            spark.createDataFrame(
                [(f"k{b}", b, b + 1)], "k string, v long, ver long"
            ),
            b,
        )
    ops = [r["op"] for r in t.history().collect()]
    assert "compact" in ops  # the sink's own writes self-cleaned
    assert t.last_committed_batch("stream1") == 4  # marker survives
    v_after = t.latest_version()
    # crash-recovery replay of the last batch: still a no-op
    sink(
        spark.createDataFrame([("k4", 4, 5)], "k string, v long, ver long"),
        4,
    )
    assert t.latest_version() == v_after
    assert _rows(t) == {f"k{b}": (b, b + 1) for b in range(5)}


def test_fsck_repair_missing_files(spark, tmp_path):
    """FSCK REPAIR: an out-of-band-deleted data file breaks scans;
    dry run reports it without committing, repair drops the reference
    in a pure-removal commit, surviving rows read fine, and the
    repair's change feed is empty (the lost rows are unrecoverable)."""
    from kafka_flink_harshevents_spark.sources.txsql import txsql

    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=1, cdf=True,
    )
    t.append(spark.createDataFrame(
        [(k, k, 1) for k in range(10)], "k long, v long, ver long"
    ))
    t.append(spark.createDataFrame(
        [(k, k, 1) for k in range(10, 20)], "k long, v long, ver long"
    ))
    _, live, _ = t._snapshot()
    victim = sorted(e["path"] for e in live)[0]
    os.remove(os.path.join(t.table_dir, victim))
    with pytest.raises(Exception):
        t.read().count()  # vanished file breaks the scan
    missing = txsql(spark, "FSCK REPAIR TABLE t DRY RUN",
                    tables={"t": t})
    assert missing == [victim]
    assert t.latest_version() == 3  # dry run committed nothing
    repaired = txsql(spark, "FSCK REPAIR TABLE t", tables={"t": t})
    assert repaired == [victim]
    assert t.read().count() == 10  # survivors readable
    v = t.latest_version()
    assert t.table_changes(v).count() == 0  # empty feed by contract
    assert t.fsck() == []  # clean table: no-op, no commit
    assert t.latest_version() == v


def test_protocol_guard_and_upgrade(spark, tmp_path):
    """Protocol versioning: tables default to (1,1) and open fine; a
    recorded requirement above what this engine implements refuses
    reads/writes with a clear error; upgrades are one-way and capped
    at the engine's own versions; 'protocol' is not settable via the
    free-property surface."""
    t = _mk(spark, tmp_path)
    t.merge_upsert(spark.createDataFrame(
        [("a", 1, 1)], "k string, v long, ver long"
    ))
    assert t.read().count() == 1  # default protocol reads fine
    with pytest.raises(ValueError, match="only go up|cannot require"):
        t.upgrade_protocol(min_reader=2)  # engine implements 1
    with pytest.raises(ValueError, match="structural"):
        t.set_properties({"protocol": {"min_reader": 9}})
    # simulate a future engine's table: raw meta_update commit
    v = t.latest_version()
    _atomic_commit(t.table_dir, v + 1, {
        "version": v + 1, "op": "upgrade_protocol",
        "add": [], "remove": [],
        "meta_update": {"protocol": {"min_reader": 9, "min_writer": 9}},
    })
    t2 = TxTable(spark, t.table_dir)  # fresh handle, fresh cache
    with pytest.raises(ValueError, match="protocol version 9"):
        t2.read()
    with pytest.raises(ValueError, match="protocol version 9"):
        t2.append(spark.createDataFrame(
            [("b", 2, 2)], "k string, v long, ver long"
        ))
    with pytest.raises(ValueError, match="protocol version 9"):
        t2.add_constraint("v_pos", "v > 0")
    with pytest.raises(ValueError, match="protocol version 9"):
        t2.drop_constraint("v_pos")
    # one-way door: an upgrade below current is refused even by a
    # hypothetical capable engine
    t3 = TxTable(spark, t.table_dir)
    t3.READER_VERSION = t3.WRITER_VERSION = 9  # instance override
    assert t3.read().count() == 1
    with pytest.raises(ValueError, match="only go up"):
        t3.upgrade_protocol(min_reader=1, min_writer=1)

def test_stage_blooms_driver_path_matches_distributed(spark, tmp_path):
    """The size-guarded driver path for staged-file bloom bitmaps
    (one bounded pyarrow read below _BLOOM_DRIVER_MAX_BYTES, round
    12) must produce bit-identical bitmaps to the distributed scan
    job it replaces: same files, same columns, same m/k/b64."""
    from kafka_flink_harshevents_spark.sources import txlog as tx

    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, bloom_cols=("k", "tag"),
    )
    t.append(spark.createDataFrame(
        [(i, f"tag{i % 7}", i * 10, 1) for i in range(200)]
        + [(1000, None, 0, 1)],
        "k long, tag string, v long, ver long",
    ))
    _, live, _, _ = t._replay()
    staged_dir = {e["path"].split("/", 1)[0] for e in live.values()}
    assert len(staged_dir) == 1
    out_dir = str(tmp_path / "t" / staged_dir.pop())
    driver = t._stage_blooms(out_dir, ("k", "tag"))
    assert driver  # the guard took the driver path at this size
    old = tx._BLOOM_DRIVER_MAX_BYTES
    tx._BLOOM_DRIVER_MAX_BYTES = 0  # force the distributed job
    try:
        dist = t._stage_blooms(out_dir, ("k", "tag"))
    finally:
        tx._BLOOM_DRIVER_MAX_BYTES = old
    assert driver == dist
