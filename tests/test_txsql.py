"""SQL front-end (sources/txsql.py) — parity: each SQL statement form
must produce EXACTLY the table state of the equivalent Python-API call
on the same mutation program (parser only, zero new semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_flink_harshevents_spark.sources.txlog import TxTable, _replay_log
from kafka_flink_harshevents_spark.sources.txsql import txsql


def _mk(spark, tmp_path, name) -> TxTable:
    t = TxTable.create(
        spark, str(tmp_path / name), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t.append(
        spark.createDataFrame(
            [(k, k * 10, 1) for k in range(10)],
            "k long, v long, ver long",
        )
    )
    return t


def _state(t: TxTable) -> dict:
    return {r["k"]: (r["v"], r["ver"]) for r in t.read().collect()}


def _src(spark):
    return spark.createDataFrame(
        [(2, 222, 2), (3, 333, 2), (50, 500, 2)],
        "k long, v long, ver long",
    )


def test_merge_clauses_parity(spark, tmp_path):
    a, b = _mk(spark, tmp_path, "a"), _mk(spark, tmp_path, "b")
    src = _src(spark)
    a.merge_into(
        src,
        when_matched=[
            {"action": "delete", "set": None, "condition": "s.k = 2"},
            {"action": "update",
             "set": {"v": "s.v + t.v", "ver": "s.ver"},
             "condition": None},
        ],
        when_not_matched=[
            {"values": {"k": "s.k", "v": "s.v * 2", "ver": "s.ver"},
             "condition": "s.v > 100"},
        ],
    )
    txsql(
        spark,
        """
        MERGE INTO b AS tgt USING src AS st ON tgt.k = st.k
        WHEN MATCHED AND st.k = 2 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = st.v + tgt.v, ver = st.ver
        WHEN NOT MATCHED AND st.v > 100
          THEN INSERT (k, v, ver) VALUES (st.k, st.v * 2, st.ver)
        """,
        tables={"b": b.table_dir},
        sources={"src": src},
    )
    assert _state(a) == _state(b)
    assert _state(b)[3] == (333 + 30, 2) and _state(b)[50] == (1000, 2)
    assert 2 not in _state(b)


def test_merge_insert_star_update_star_and_by_source(spark, tmp_path):
    a, b = _mk(spark, tmp_path, "a"), _mk(spark, tmp_path, "b")
    src = _src(spark)
    a.merge_into(
        src,
        when_matched="update",
        when_not_matched="insert",
        when_not_matched_by_source="delete",
        by_source_condition="t.k > 7",
    )
    txsql(
        spark,
        "MERGE INTO b AS t USING src AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND t.k > 7 THEN DELETE",
        tables={"b": b},
        sources={"src": src},
    )
    assert _state(a) == _state(b)
    assert 8 not in _state(b) and 50 in _state(b)


def test_merge_using_subquery_and_quoted_path(spark, tmp_path):
    b = _mk(spark, tmp_path, "b")
    _src(spark).createOrReplaceTempView("mergesrc_v")
    txsql(
        spark,
        f"MERGE INTO '{b.table_dir}' AS t USING "
        "(SELECT k, v, ver FROM mergesrc_v WHERE k < 10) AS s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET *;",
    )
    st = _state(b)
    assert st[2] == (222, 2) and st[3] == (333, 2) and 50 not in st


def test_merge_on_clause_refusals(spark, tmp_path):
    b = _mk(spark, tmp_path, "b")
    src = _src(spark)
    with pytest.raises(ValueError, match="keyed on"):
        txsql(
            spark,
            "MERGE INTO b AS t USING src AS s ON t.v = s.v "
            "WHEN MATCHED THEN DELETE",
            tables={"b": b}, sources={"src": src},
        )
    with pytest.raises(ValueError, match="not a plain"):
        txsql(
            spark,
            "MERGE INTO b AS t USING src AS s ON t.k = s.k + 1 "
            "WHEN MATCHED THEN DELETE",
            tables={"b": b}, sources={"src": src},
        )
    with pytest.raises(ValueError, match="no WHEN clause"):
        txsql(
            spark, "MERGE INTO b AS t USING src AS s ON t.k = s.k",
            tables={"b": b}, sources={"src": src},
        )


def test_update_delete_parity(spark, tmp_path):
    a, b = _mk(spark, tmp_path, "a"), _mk(spark, tmp_path, "b")
    a.update_where("k % 3 = 0", {"v": "v + 1", "ver": "2"})
    a.delete_where("k >= 8")
    txsql(spark, "UPDATE b SET v = v + 1, ver = 2 WHERE k % 3 = 0",
          tables={"b": b})
    _, n = txsql(spark, "DELETE FROM b WHERE k >= 8", tables={"b": b})
    assert n == 2
    assert _state(a) == _state(b)
    # unconditional forms
    txsql(spark, "UPDATE b SET ver = 9", tables={"b": b})
    assert all(v[1] == 9 for v in _state(b).values())
    txsql(spark, "DELETE FROM b", tables={"b": b})
    assert _state(b) == {}


def test_copy_into_restore_optimize_vacuum(spark, tmp_path):
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    land = tmp_path / "land"
    spark.createDataFrame(
        [(k, k, 1) for k in range(6)], "k long, v long, ver long"
    ).coalesce(1).write.parquet(str(land / "a"))
    v, n = txsql(
        spark,
        f"COPY INTO t FROM '{land}/a/*.parquet' FILEFORMAT = PARQUET",
        tables={"t": t},
    )
    assert n == 1 and t.read().count() == 6
    # idempotent re-run loads nothing; COPY_OPTIONS force reloads
    _, n2 = txsql(
        spark, f"COPY INTO t FROM '{land}/a/*.parquet'", tables={"t": t}
    )
    assert n2 == 0
    v_before = t.latest_version()
    txsql(spark, "UPDATE t SET v = 0", tables={"t": t})
    txsql(
        spark,
        f"RESTORE TABLE t TO VERSION AS OF {v_before}",
        tables={"t": t},
    )
    assert {r["v"] for r in t.read().collect()} == {0, 1, 2, 3, 4, 5}
    txsql(spark, "OPTIMIZE t", tables={"t": t})
    live = _replay_log(t.table_dir).live
    assert len(live) <= 2  # one file per bucket after compact
    txsql(spark, "OPTIMIZE t ZORDER BY (v)", tables={"t": t})
    dead = txsql(spark, "VACUUM t RETAIN 1 VERSIONS DRY RUN",
                 tables={"t": t})
    assert isinstance(dead, list) and dead
    assert t.read().count() == 6  # dry run deleted nothing
    txsql(spark, "VACUUM t RETAIN 1 VERSIONS", tables={"t": t})
    assert t.read().count() == 6


def test_unsupported_and_unknown(spark, tmp_path):
    with pytest.raises(ValueError, match="unsupported"):
        txsql(spark, "GRANT SELECT ON t TO someone")
    with pytest.raises(ValueError, match="unknown table"):
        txsql(spark, "DELETE FROM nope")
    # plain SELECT without txlog targets degrades to spark.sql
    assert txsql(spark, "SELECT 1 AS one").collect()[0]["one"] == 1


def test_insert_into_and_describe_history(spark, tmp_path):
    t = _mk(spark, tmp_path, "t")
    # VALUES form, typed through the table schema
    v = txsql(
        spark,
        "INSERT INTO t VALUES (100, 1000, 1), (101, 1010, 1)",
        tables={"t": t},
    )
    assert v == t.latest_version()
    st = _state(t)
    assert st[100] == (1000, 1) and st[101] == (1010, 1)
    # SELECT form
    spark.createDataFrame(
        [(200, 5, 2)], "k long, v long, ver long"
    ).createOrReplaceTempView("ins_src_v")
    txsql(spark, "INSERT INTO t SELECT k, v, ver FROM ins_src_v",
          tables={"t": t})
    assert _state(t)[200] == (5, 2)
    # named-source form
    txsql(spark, "INSERT INTO t ins_named", tables={"t": t},
          sources={"ins_named": spark.createDataFrame(
              [(300, 6, 1)], "k long, v long, ver long")})
    assert _state(t)[300] == (6, 1)
    # arity mismatch refuses
    with pytest.raises(ValueError, match="arity"):
        txsql(spark, "INSERT INTO t VALUES (1, 2)", tables={"t": t})
    # DESCRIBE HISTORY returns the audit frame
    h = txsql(spark, "DESCRIBE HISTORY t", tables={"t": t})
    ops = {r["op"] for r in h.collect()}
    assert "append" in ops and h.count() >= 4


def test_create_table_ddl(spark, tmp_path):
    t = txsql(
        spark,
        f"""
        CREATE TABLE '{tmp_path}/ddl' (
            k LONG,
            region STRING,
            v DOUBLE,
            day DATE GENERATED ALWAYS AS (CAST(ts AS DATE)),
            ts TIMESTAMP,
            rid LONG GENERATED ALWAYS AS IDENTITY (START WITH 100
                                                   INCREMENT BY 3),
            ver LONG
        ) USING txlog
        PARTITIONED BY (region)
        TBLPROPERTIES ('key_cols'='k', 'order_col'='ver',
                       'n_buckets'='2', 'cdf'='true')
        """,
    )
    meta = t.meta
    assert meta["key_cols"] == ["k"] and meta["order_col"] == "ver"
    assert meta["partition_by"] == ["region"] and meta["cdf"]
    assert meta["generated_cols"] == {"day": "CAST(ts AS DATE)"}
    assert meta["identity_cols"]["rid"] == {
        "start": 100, "step": 3, "always": True,
    }
    # the declared schema is recorded: an empty read already types
    sch = dict(t.read().dtypes)
    assert sch["v"] == "double" and sch["ts"] == "timestamp"
    # a write through the declared contract: generated + identity fill
    import datetime

    t.append(spark.createDataFrame(
        [(1, "eu", 0.5, datetime.datetime(2024, 1, 2, 3), 1)],
        "k long, region string, v double, ts timestamp, ver long",
    ))
    r = t.read().collect()[0]
    assert r["day"] == datetime.date(2024, 1, 2) and r["rid"] == 100
    rep = t.prune_report({}, eq={"region": "us"})
    assert rep["files_read"] == 0  # partition layout live from DDL


def test_alter_table_ddl(spark, tmp_path):
    t = _mk(spark, tmp_path, "t")
    txsql(spark, "ALTER TABLE t ADD CONSTRAINT pos CHECK (v >= 0)",
          tables={"t": t})
    assert "pos" in t.constraints()
    with pytest.raises(Exception, match="pos"):
        t.append(spark.createDataFrame(
            [(99, -5, 1)], "k long, v long, ver long"))
    txsql(spark, "ALTER TABLE t DROP CONSTRAINT pos", tables={"t": t})
    assert "pos" not in t.constraints()
    txsql(spark, "ALTER TABLE t RENAME COLUMN v TO val",
          tables={"t": t})
    assert "val" in t.read().columns
    txsql(spark, "ALTER TABLE t DROP COLUMN val", tables={"t": t})
    assert "val" not in t.read().columns
    with pytest.raises(ValueError, match="unsupported action"):
        txsql(spark, "ALTER TABLE t SET LOCATION 'x'", tables={"t": t})


def test_vacuum_retain_hours(spark, tmp_path):
    """Time-based retention: snapshots inside the window stay
    time-travelable (their files keep living); RETAIN 0 HOURS degrades
    to newest-snapshot-only, Delta's rule."""
    t = _mk(spark, tmp_path, "t")
    v1 = t.latest_version()
    t.update_where("k < 3", {"v": "0"})  # rewrite: old files dead
    # a huge window keeps everything — nothing reclaimed
    assert txsql(spark, "VACUUM t RETAIN 1000 HOURS DRY RUN",
                 tables={"t": t}) == []
    assert t.read(version=v1).count() == 10  # time travel intact
    # zero-hour window = newest snapshot only: old files reclaimable
    dead = txsql(spark, "VACUUM t RETAIN 0 HOURS DRY RUN",
                 tables={"t": t})
    assert dead
    assert t.read().count() == 10


def test_create_table_exists_semantics(spark, tmp_path):
    ddl = (
        f"CREATE TABLE {{ine}}'{tmp_path}/t' (k LONG, ver LONG) "
        "USING txlog TBLPROPERTIES ('key_cols'='k', 'order_col'='ver')"
    )
    t = txsql(spark, ddl.format(ine=""))
    t.append(spark.createDataFrame([(1, 1)], "k long, ver long"))
    with pytest.raises(ValueError, match="already holds"):
        txsql(spark, ddl.format(ine=""))
    t2 = txsql(spark, ddl.format(ine="IF NOT EXISTS "))
    assert t2.read().count() == 1  # opened, not recreated


def test_merge_alias_collision_with_engine_names(spark, tmp_path):
    """User aliases that collide with the engine's internal t/s names
    must rewrite simultaneously: MERGE INTO b AS s USING src AS t —
    a sequential rewrite would chain s→t→s and flip target references
    into source ones (ADVICE r09)."""
    a, b = _mk(spark, tmp_path, "a"), _mk(spark, tmp_path, "b")
    src = _src(spark)
    a.merge_into(
        src,
        when_matched=[
            {"action": "update",
             "set": {"v": "t.v + s.v", "ver": "s.ver"},
             "condition": None},
        ],
        when_not_matched=[{"values": None, "condition": None}],
    )
    txsql(
        spark,
        # user's t = SOURCE, user's s = TARGET (swapped on purpose)
        """
        MERGE INTO b AS s USING src AS t ON s.k = t.k
        WHEN MATCHED THEN UPDATE SET v = s.v + t.v, ver = t.ver
        WHEN NOT MATCHED THEN INSERT *
        """,
        tables={"b": b.table_dir},
        sources={"src": src},
    )
    assert _state(a) == _state(b)
    assert _state(b)[2] == (20 + 222, 2)  # target v + source v


def test_rewrite_refs_quote_aware():
    from kafka_flink_harshevents_spark.sources.txsql import _rewrite_refs

    # simultaneous swap
    assert _rewrite_refs("a.x + t.y", {"a": "t", "t": "s"}) \
        == "t.x + s.y"
    # alias prefix inside a string literal is data
    assert _rewrite_refs("concat('a.b', a.c)", {"a": "t"}) \
        == "concat('a.b', t.c)"
    # backticked alias, case-insensitive
    assert _rewrite_refs("`Src`.v + x", {"src": "s"}) == "s.v + x"
    # not a prefix of a longer identifier / not after a dot
    assert _rewrite_refs("xa.v + y.a.b", {"a": "t"}) == "xa.v + y.a.b"


def test_merge_case_when_in_condition_and_set(spark, tmp_path):
    """CASE WHEN ... THEN ... END inside clause conditions and SET
    expressions must not split the statement's own WHEN/THEN
    structure (ADVICE r09)."""
    a, b = _mk(spark, tmp_path, "a"), _mk(spark, tmp_path, "b")
    src = _src(spark)
    a.merge_into(
        src,
        when_matched=[
            {"action": "update",
             "set": {"v": "CASE WHEN s.v > 300 THEN s.v ELSE t.v END",
                     "ver": "s.ver"},
             "condition": "CASE WHEN s.k = 2 THEN false ELSE true END"},
        ],
        when_not_matched=[{"values": None, "condition": None}],
    )
    txsql(
        spark,
        """
        MERGE INTO b USING src ON t.k = s.k
        WHEN MATCHED AND CASE WHEN s.k = 2 THEN false ELSE true END
          THEN UPDATE SET
            v = CASE WHEN s.v > 300 THEN s.v ELSE t.v END,
            ver = s.ver
        WHEN NOT MATCHED THEN INSERT *
        """,
        tables={"b": b.table_dir},
        sources={"src": src},
    )
    assert _state(a) == _state(b)
    assert _state(b)[2] == (20, 1)      # condition false: untouched
    assert _state(b)[3] == (333, 2)     # s.v > 300: took source value


def test_merge_same_alias_refused(spark, tmp_path):
    t = _mk(spark, tmp_path, "t")
    with pytest.raises(ValueError, match="share the alias"):
        txsql(
            spark,
            "MERGE INTO t AS x USING src AS x ON x.k = x.k "
            "WHEN MATCHED THEN DELETE",
            tables={"t": t},
            sources={"src": _src(spark)},
        )


def test_insert_values_omits_managed_columns(spark, tmp_path):
    """INSERT INTO ... VALUES on a table with identity / generated /
    row-tracking columns: managed columns are omitted from the arity
    check (Delta's rule); BY DEFAULT identity may also be supplied
    explicitly (ADVICE r09)."""
    t = txsql(
        spark,
        f"""
        CREATE TABLE '{tmp_path}/mg' (
            k LONG,
            v LONG,
            dbl LONG GENERATED ALWAYS AS (v * 2),
            rid LONG GENERATED ALWAYS AS IDENTITY,
            did LONG GENERATED BY DEFAULT AS IDENTITY (START WITH 7),
            ver LONG
        ) USING txlog
        TBLPROPERTIES ('key_cols'='k', 'order_col'='ver',
                       'n_buckets'='2', 'row_tracking'='true')
        """,
    )
    # user-column arity (k, v, ver): managed all engine-filled
    txsql(spark, "INSERT INTO mg VALUES (1, 10, 1)", tables={"mg": t})
    r = {x["k"]: x for x in t.read().collect()}
    assert r[1]["dbl"] == 20 and r[1]["rid"] == 1 and r[1]["did"] == 7
    # explicit BY DEFAULT identity value via the column-list form
    txsql(spark, "INSERT INTO mg (k, v, did, ver) VALUES (2, 20, 99, 1)",
          tables={"mg": t})
    r = {x["k"]: x for x in t.read().collect()}
    assert r[2]["did"] == 99 and r[2]["dbl"] == 40
    # GENERATED ALWAYS identity cannot be named
    with pytest.raises(ValueError, match="unknown/managed"):
        txsql(spark, "INSERT INTO mg (k, v, rid, ver) "
              "VALUES (4, 40, 1, 1)", tables={"mg": t})
    # anything else still refuses with the accepted shape named
    with pytest.raises(ValueError, match="arity"):
        txsql(spark, "INSERT INTO mg VALUES (3, 30)", tables={"mg": t})


def test_time_travel_select(spark, tmp_path):
    """SELECT ... FROM t VERSION AS OF n / TIMESTAMP AS OF — the
    Delta-documented time-travel READ grammar: the SQL form must be
    row-identical to read(version=)/read(timestamp=), and targets
    resolve through the same tables mapping as every other verb."""
    import time

    t = _mk(spark, tmp_path, "t")
    v1 = t.latest_version()
    ts_rec = __import__(
        "kafka_flink_harshevents_spark.sources.txlog",
        fromlist=["_read_record"],
    )._read_record(t.table_dir, v1)["ts"]
    time.sleep(0.05)
    t.update_where("k < 5", {"v": "v + 1000", "ver": "2"})

    # VERSION AS OF ≡ read(version=)
    got = txsql(
        spark,
        f"SELECT k, v, ver FROM t VERSION AS OF {v1}",
        tables={"t": t},
    )
    exp = t.read(version=v1).select("k", "v", "ver")
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, exp.collect()))
    # TIMESTAMP AS OF the v1 commit stamp ≡ the v1 snapshot
    got = txsql(
        spark,
        f"SELECT count(*) AS n, sum(v) AS s FROM t "
        f"TIMESTAMP AS OF {ts_rec}",
        tables={"t": t},
    ).collect()[0]
    assert got["n"] == 10 and got["s"] == sum(k * 10 for k in range(10))
    # current-version resolution without AS OF + self-join across time
    got = txsql(
        spark,
        f"SELECT a.k, b.v AS v_now, a.v AS v_then "
        f"FROM t VERSION AS OF {v1} a JOIN t b ON a.k = b.k "
        "WHERE a.k = 1",
        tables={"t": t},
    ).collect()[0]
    assert got["v_then"] == 10 and got["v_now"] == 1010
    # quoted-path targets work like every other verb
    n = txsql(
        spark,
        f"SELECT count(*) AS n FROM '{t.table_dir}' VERSION AS OF {v1}",
    ).collect()[0]["n"]
    assert n == 10
    # ISO timestamp strings parse (far future = current state)
    n = txsql(
        spark,
        "SELECT count(*) AS n FROM t TIMESTAMP AS OF '2100-01-01'",
        tables={"t": t},
    ).collect()[0]["n"]
    assert n == 10
    # AS OF on an unresolvable name refuses loudly
    with pytest.raises(ValueError, match="AS OF"):
        txsql(spark, "SELECT * FROM nope VERSION AS OF 1")
    # FROM inside a string literal is data, not a target
    r = txsql(
        spark,
        "SELECT 'FROM t VERSION AS OF 99' AS lit, count(*) AS n "
        "FROM t",
        tables={"t": t},
    ).collect()[0]
    assert r["n"] == 10 and "99" in r["lit"]


def test_describe_detail(spark, tmp_path):
    """DESCRIBE DETAIL: one-row log-only profile — exact file/row/byte
    counts, partition + key metadata, commit timestamps."""
    t = _mk(spark, tmp_path, "t")
    t.delete_where("k = 0", mode="merge_on_read")  # DV: rows adjust
    d = txsql(spark, "DESCRIBE DETAIL t", tables={"t": t}).collect()[0]
    assert d["format"] == "txlog" and d["location"] == t.table_dir
    assert d["num_rows"] == 9 and d["num_files"] >= 1
    assert d["size_bytes"] > 0 and d["version"] == t.latest_version()
    assert d["key_cols"] == ["k"] and d["order_col"] == "ver"
    assert d["created_at"] <= d["last_modified"]
    assert d["partition_columns"] == [] and d["cdf"] is False


def test_restore_timestamp_as_of(spark, tmp_path):
    """RESTORE ... TO TIMESTAMP AS OF resolves through
    version_at_timestamp — parity with the version form."""
    from kafka_flink_harshevents_spark.sources.txlog import _read_record

    t = _mk(spark, tmp_path, "t")
    v1 = t.latest_version()
    ts1 = _read_record(t.table_dir, v1)["ts"]
    t.update_where("true", {"v": "0"})
    assert {r["v"] for r in t.read().collect()} == {0}
    txsql(spark, f"RESTORE TABLE t TO TIMESTAMP AS OF {ts1}",
          tables={"t": t})
    assert _state(t) == {k: (k * 10, 1) for k in range(10)}


def test_table_changes_tvf(spark, tmp_path):
    """SELECT ... FROM table_changes(t, start[, end]) serves the batch
    change feed in one plan — parity with the DataSource read the
    cdf_replay gate uses."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    t.append(spark.createDataFrame(
        [(k, k * 10, 1) for k in range(5)], "k long, v long, ver long"))
    v_append = t.latest_version()
    t.update_where("k = 1", {"v": "99", "ver": "2"})
    t.delete_where("k = 4")
    rows = txsql(
        spark,
        f"SELECT k, _change_type, _commit_version "
        f"FROM table_changes(t, {v_append + 1}) ORDER BY "
        "_commit_version, _change_type, k",
        tables={"t": t},
    ).collect()
    kinds = {(r["k"], r["_change_type"]) for r in rows}
    # update_where materializes as delete+insert in this engine's
    # feed (file-rewrite convention — same rows the cdf_replay gate
    # consumes); the delete commit emits a plain delete
    assert (1, "delete") in kinds and (1, "insert") in kinds
    assert (4, "delete") in kinds
    # parity with the direct DataSource read the gate uses
    direct = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .option("readchangefeed", "true")
        .option("startingversion", str(v_append + 1))
        .load()
        .select("k", "_change_type", "_commit_version")
        .collect()
    )
    assert sorted(map(tuple, direct)) == sorted(map(tuple, rows))
    # bounded range: only the update commit (delete + re-insert)
    bounded = txsql(
        spark,
        f"SELECT count(*) AS n FROM table_changes(t, {v_append + 1}, "
        f"{v_append + 1})",
        tables={"t": t},
    ).collect()[0]["n"]
    assert bounded == 2
    # aggregation over the feed plans through Catalyst
    agg = txsql(
        spark,
        f"SELECT _change_type, count(*) AS n "
        f"FROM table_changes(t, {v_append + 1}) GROUP BY _change_type",
        tables={"t": t},
    ).collect()
    assert {r["_change_type"] for r in agg} == {"delete", "insert"}


def test_time_travel_inside_insert_and_merge_sources(spark, tmp_path):
    """AS OF clauses resolve inside INSERT's SELECT and MERGE's
    USING (SELECT ...) — inner SELECTs route through the same
    resolver as top-level SELECT."""
    t = _mk(spark, tmp_path, "t")
    v1 = t.latest_version()
    t.update_where("true", {"v": "0", "ver": "2"})
    dst = TxTable.create(
        spark, str(tmp_path / "dst"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    txsql(
        spark,
        f"INSERT INTO dst SELECT k, v, ver FROM t VERSION AS OF {v1}",
        tables={"t": t, "dst": dst},
    )
    assert _state(dst) == {k: (k * 10, 1) for k in range(10)}
    # MERGE USING a time-traveled subquery restores old values
    txsql(
        spark,
        f"MERGE INTO t USING (SELECT k, v, ver FROM t "
        f"VERSION AS OF {v1} WHERE k < 3) AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v, ver = 3",
        tables={"t": t},
    )
    st = _state(t)
    assert st[1] == (10, 3) and st[5] == (0, 2)


def test_ctas_truncate_show_tblproperties(spark, tmp_path):
    """CTAS (schema + first batch from the SELECT, IF NOT EXISTS
    opens without re-applying), TRUNCATE TABLE (≡ DELETE FROM, time
    travel intact), SHOW TBLPROPERTIES (the recorded meta)."""
    src = _mk(spark, tmp_path, "src")
    v1 = src.latest_version()
    src.update_where("true", {"v": "0", "ver": "2"})
    # CTAS over a time-traveled SELECT
    ddl = (
        f"CREATE TABLE {{ine}}'{tmp_path}/ct' USING txlog "
        "PARTITIONED BY (par) "
        "TBLPROPERTIES ('key_cols'='k', 'order_col'='ver', "
        "'n_buckets'='2') "
        f"AS SELECT k, v, ver, k % 2 AS par FROM src "
        f"VERSION AS OF {v1}"
    )
    t = txsql(spark, ddl.format(ine=""), tables={"src": src})
    assert _state(t) == {k: (k * 10, 1) for k in range(10)}
    assert t.meta["partition_by"] == ["par"]
    # plain re-CREATE refuses; IF NOT EXISTS opens, AS SELECT not
    # re-applied (the table keeps its 10 rows, not 20)
    with pytest.raises(ValueError, match="already holds"):
        txsql(spark, ddl.format(ine=""), tables={"src": src})
    t2 = txsql(spark, ddl.format(ine="IF NOT EXISTS "),
               tables={"src": src})
    assert t2.read().count() == 10
    # SHOW TBLPROPERTIES returns the recorded meta
    props = {
        r["key"]: r["value"]
        for r in txsql(spark, f"SHOW TBLPROPERTIES '{tmp_path}/ct'")
        .collect()
    }
    assert props["order_col"] == "ver" and "key_cols" in props
    # TRUNCATE: all rows gone, history intact
    v_pre = t.latest_version()
    _, n = txsql(spark, f"TRUNCATE TABLE '{tmp_path}/ct'")
    assert n == 10 and t.read().count() == 0
    assert t.read(version=v_pre).count() == 10  # time travel survives


def test_shallow_clone_describe_and_tvf_timestamps(spark, tmp_path):
    """CREATE TABLE ... SHALLOW CLONE [AS OF], DESCRIBE TABLE, and
    timestamp arguments to table_changes()."""
    from kafka_flink_harshevents_spark.sources.txlog import _read_record

    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=2, cdf=True,
    )
    t.append(spark.createDataFrame(
        [(k, k * 10, 1) for k in range(10)], "k long, v long, ver long"))
    v1 = t.latest_version()
    ts1 = _read_record(t.table_dir, v1)["ts"]
    t.update_where("k < 5", {"v": "0", "ver": "2"})
    ts2 = _read_record(t.table_dir, t.latest_version())["ts"]

    # SHALLOW CLONE at the v1 snapshot: zero-copy, old values
    c = txsql(
        spark,
        f"CREATE TABLE '{tmp_path}/c' SHALLOW CLONE t "
        f"VERSION AS OF {v1}",
        tables={"t": t},
    )
    assert _state(c) == {k: (k * 10, 1) for k in range(10)}
    # clone is independently writable; source untouched
    c.delete_where("k = 0")
    assert 0 in _state(t) or _state(t)[0][0] == 0  # source still has k=0
    # DESCRIBE TABLE lists the user schema + partition section absent
    cols = {r["col_name"]: r["data_type"]
            for r in txsql(spark, "DESCRIBE TABLE t",
                           tables={"t": t}).collect()}
    assert cols == {"k": "bigint", "v": "bigint", "ver": "bigint"}
    # table_changes with timestamp args: everything after the append's
    # stamp = the update's delete+insert pairs
    n = txsql(
        spark,
        f"SELECT count(*) AS n FROM table_changes(t, '{ts1 + 1e-4}')",
        tables={"t": t},
    ).collect()[0]["n"]
    assert n == 10  # 5 deletes + 5 inserts
    # string end bound inclusive at the update's stamp
    n2 = txsql(
        spark,
        f"SELECT count(*) AS n FROM "
        f"table_changes(t, {v1 + 1}, '{ts2}')",
        tables={"t": t},
    ).collect()[0]["n"]
    assert n2 == 10
    # the reader's own endingtimestamp option (what the TVF passes):
    # bounding at the APPEND's stamp excludes the update entirely
    n3 = (
        spark.read.format("txlog")
        .option("tabledir", t.table_dir)
        .option("readchangefeed", "true")
        .option("startingversion", "1")
        .option("endingtimestamp", str(ts1))
        .load()
        .count()
    )
    assert n3 == 10  # the 10 appended inserts, nothing later


def test_cte_shadows_txlog_table(spark, tmp_path):
    """A statement's own CTE shadows a same-named txlog table
    (spark.sql's precedence) — the resolver must leave CTE
    references alone (review r10)."""
    t = _mk(spark, tmp_path, "t")
    rows = txsql(
        spark,
        "WITH t AS (SELECT 42 AS k), u AS (SELECT k + 1 AS k FROM t) "
        "SELECT t.k, u.k AS k2 FROM t JOIN u ON u.k = t.k + 1",
        tables={"t": t},
    ).collect()
    assert len(rows) == 1 and rows[0]["k"] == 42  # CTE, not the table
    # non-shadowed references still resolve to the table
    n = txsql(
        spark,
        "WITH c AS (SELECT 1 AS one) SELECT count(*) AS n FROM t",
        tables={"t": t},
    ).collect()[0]["n"]
    assert n == 10


def test_select_temp_views_cleaned_up(spark, tmp_path):
    """The resolver's temp views are uniquely named and dropped after
    planning — no catalog leak, and the returned frame stays
    executable (review r10)."""
    t = _mk(spark, tmp_path, "t")
    before = {v.name for v in spark.catalog.listTables()}
    df = txsql(spark, "SELECT count(*) AS n FROM t", tables={"t": t})
    after = {v.name for v in spark.catalog.listTables()}
    assert not {v for v in after - before if v.startswith("__txsql_")}
    assert df.collect()[0]["n"] == 10  # plan survives the view drop


def test_shallow_clone_if_not_exists(spark, tmp_path):
    t = _mk(spark, tmp_path, "t")
    ddl = (
        f"CREATE TABLE {{ine}}'{tmp_path}/c' SHALLOW CLONE t"
    )
    c = txsql(spark, ddl.format(ine=""), tables={"t": t})
    assert c.read().count() == 10
    with pytest.raises(ValueError, match="already holds"):
        txsql(spark, ddl.format(ine=""), tables={"t": t})
    c2 = txsql(spark, ddl.format(ine="IF NOT EXISTS "),
               tables={"t": t})
    assert c2.read().count() == 10  # opened, not re-cloned


def test_cdf_end_bound_conflict_refused(spark, tmp_path):
    from kafka_flink_harshevents_spark.sources.txstream import (
        TxLogStreamSource,
    )

    spark.dataSource.register(TxLogStreamSource)
    t = _mk(spark, tmp_path, "t")
    with pytest.raises(Exception, match="not both"):
        (
            spark.read.format("txlog")
            .option("tabledir", t.table_dir)
            .option("readchangefeed", "true")
            .option("endingversion", "2")
            .option("endingtimestamp", "9999999999")
            .load()
            .count()
        )


def test_fn_call_from_is_not_a_table_ref(spark, tmp_path):
    """``extract(YEAR FROM col)`` / ``trim(... FROM col)``: FROM inside
    a function-call argument list is expression syntax — the
    time-travel rewriter must leave it alone even when the operand
    name collides with a tables= key (regression: the column ref was
    replaced with a temp-view name and analysis failed)."""
    import datetime

    t = TxTable.create(
        spark, str(tmp_path / "tt"), key_cols=("k",), order_col="ver",
        n_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(1, datetime.datetime(2021, 3, 4, 5, 6, 7), " pad ", 1)],
        "k long, ts timestamp, s string, ver long",
    ))
    got = txsql(
        spark,
        "SELECT extract(YEAR FROM ts) AS y, "
        "trim(BOTH ' ' FROM s) AS s2 FROM ts",
        tables={"ts": t, "s": t},
    ).collect()[0]
    assert got["y"] == 2021 and got["s2"] == "pad"
    # a subquery nested INSIDE a call argument still rewrites its refs
    got = txsql(
        spark,
        "SELECT coalesce((SELECT max(k) FROM ts), -1) AS m",
        tables={"ts": t},
    ).collect()[0]
    assert got["m"] == 1


def test_backslash_escaped_quote_in_literal(spark, tmp_path):
    """Backslash-escaped quotes inside string literals must not desync
    the literal scanner: table-like text inside the literal stays
    data, refs after it still resolve, and MERGE alias rewriting
    honors the same escape."""
    from kafka_flink_harshevents_spark.sources.txsql import (
        _literal_spans,
        _rewrite_refs,
    )

    t = _mk(spark, tmp_path, "t")
    got = txsql(
        spark,
        "SELECT 'it\\'s FROM t' AS lit, count(*) AS n FROM t",
        tables={"t": t},
    ).collect()[0]
    assert got["lit"] == "it's FROM t" and got["n"] == 10
    # scanner unit: the escaped quote does not terminate the literal
    spans = _literal_spans("'a\\'b' x FROM t")
    assert spans == [(0, 6)]
    out = _rewrite_refs("concat('a\\'s a.x ', a.x)", {"a": "engine"})
    assert out == "concat('a\\'s a.x ', engine.x)"


def test_insert_overwrite_and_replace_where(spark, tmp_path):
    """INSERT OVERWRITE (whole-table atomic replace) and INSERT INTO
    ... REPLACE WHERE (Delta's predicate-scoped overwrite spelling):
    parity with replace_where, slice-ownership guard included, and
    time travel to pre-overwrite versions survives."""
    t = _mk(spark, tmp_path, "t")
    v1 = t.latest_version()
    # predicate-scoped: re-derive the even slice from a SELECT source
    txsql(
        spark,
        "INSERT INTO t REPLACE WHERE k % 2 = 0 "
        "SELECT k, k * 100 AS v, CAST(2 AS bigint) AS ver "
        "FROM t WHERE k % 2 = 0",
        tables={"t": t},
    )
    st = _state(t)
    assert st == {
        k: ((k * 100, 2) if k % 2 == 0 else (k * 10, 1))
        for k in range(10)
    }
    # library parity on the same program
    t2 = _mk(spark, tmp_path, "t2")
    t2.replace_where(
        t2.read().filter("k % 2 = 0").selectExpr(
            "k", "k * 100 AS v", "CAST(2 AS bigint) AS ver"
        ),
        "k % 2 = 0",
    )
    assert _state(t2) == st
    # out-of-slice rows refused (the ownership guard, via SQL)
    with pytest.raises(ValueError):
        txsql(
            spark,
            "INSERT INTO t REPLACE WHERE k > 100 VALUES (1, 1, 3)",
            tables={"t": t},
        )
    # full overwrite: one atomic commit, history intact
    txsql(
        spark,
        "INSERT OVERWRITE t VALUES (100, 1, CAST(3 AS bigint))",
        tables={"t": t},
    )
    assert _state(t) == {100: (1, 3)}
    assert t.read(version=v1).count() == 10  # time travel survives
    # OVERWRITE + REPLACE WHERE is contradictory
    with pytest.raises(ValueError, match="REPLACE WHERE"):
        txsql(
            spark,
            "INSERT OVERWRITE t REPLACE WHERE k = 1 VALUES (1, 1, 1)",
            tables={"t": t},
        )
    # named DataFrame source through the REPLACE WHERE form
    txsql(
        spark,
        "INSERT INTO t REPLACE WHERE k = 100 newrows",
        tables={"t": t},
        sources={
            "newrows": spark.createDataFrame(
                [(100, 7, 4)], "k long, v long, ver long"
            )
        },
    )
    assert _state(t) == {100: (7, 4)}


def test_create_or_replace_table(spark, tmp_path):
    """CREATE OR REPLACE TABLE: replaces CONTENTS on the same log
    (history + time travel survive), refuses to mutate immutable meta
    (key_cols/order_col/generated/identity), CTAS form is one atomic
    rewrite, column-list form truncates and evolves additively."""
    t = _mk(spark, tmp_path, "t")
    d = t.table_dir
    v1 = t.latest_version()
    t2 = txsql(
        spark,
        f"CREATE OR REPLACE TABLE '{d}' USING txlog AS "
        "SELECT CAST(50 AS bigint) AS k, CAST(5 AS bigint) AS v, "
        "CAST(9 AS bigint) AS ver",
    )
    assert _state(t2) == {50: (5, 9)}
    assert t2.read(version=v1).count() == 10  # pre-replace snapshot
    # immutable meta refused
    with pytest.raises(ValueError, match="immutable"):
        txsql(
            spark,
            f"CREATE OR REPLACE TABLE '{d}' USING txlog "
            "TBLPROPERTIES ('key_cols'='v', 'order_col'='ver') "
            "AS SELECT 1 AS v",
        )
    # column-list form: empty contents, schema evolves additively
    t3 = txsql(
        spark,
        f"CREATE OR REPLACE TABLE '{d}' "
        "(k BIGINT, v BIGINT, extra STRING, ver BIGINT) USING txlog",
    )
    assert t3.read().count() == 0
    assert "extra" in t3.read().columns
    # OR REPLACE ∧ IF NOT EXISTS is contradictory
    with pytest.raises(ValueError, match="mutually exclusive"):
        txsql(
            spark,
            f"CREATE OR REPLACE TABLE IF NOT EXISTS '{d}' "
            "(k BIGINT, ver BIGINT) USING txlog",
        )
    # OR REPLACE on a fresh directory degrades to a plain create
    nd = str(tmp_path / "fresh")
    t4 = txsql(
        spark,
        f"CREATE OR REPLACE TABLE '{nd}' (k BIGINT, v BIGINT, "
        "ver BIGINT) USING txlog TBLPROPERTIES "
        "('key_cols'='k', 'order_col'='ver')",
    )
    assert t4.latest_version() >= 1 and t4.read().count() == 0


def test_double_quoted_literals_do_not_mask_rewrites(spark, tmp_path):
    """Double quotes are string literals in default Spark SQL: an
    unbalanced paren inside one must not open a phantom function
    frame that hides later table refs from the rewriter."""
    t = _mk(spark, tmp_path, "t")
    got = txsql(
        spark,
        'SELECT "x(" AS a, count(*) AS n FROM t',
        tables={"t": t},
    ).collect()[0]
    assert got["a"] == "x(" and got["n"] == 10


def test_replace_where_predicate_literal_safe(spark, tmp_path):
    """A REPLACE WHERE predicate containing 'VALUES (' or 'SELECT'
    inside a string literal must not split the statement at the wrong
    point — the source cut is the quote-aware top-level scanner's."""
    t = _mk(spark, tmp_path, "t")
    txsql(
        spark,
        "INSERT INTO t REPLACE WHERE k = 1 AND 'VALUES (' = 'VALUES (' "
        "VALUES (1, 99, CAST(2 AS bigint))",
        tables={"t": t},
    )
    st = _state(t)
    assert st[1] == (99, 2)
    assert st[2] == (20, 1)  # untouched neighbor
    # a subquery SELECT inside the predicate stays in the predicate
    txsql(
        spark,
        "INSERT INTO t REPLACE WHERE k IN (SELECT 2) "
        "VALUES (2, 77, CAST(3 AS bigint))",
        tables={"t": t},
    )
    assert _state(t)[2] == (77, 3)


def test_create_or_replace_fails_before_truncating(spark, tmp_path):
    """A CREATE OR REPLACE whose declared columns cannot apply
    (incompatible type change) must fail WITHOUT deleting the data,
    and every immutable property re-declared differently is refused —
    none is silently dropped."""
    t = _mk(spark, tmp_path, "t")
    d = t.table_dir
    with pytest.raises(ValueError):
        txsql(
            spark,
            f"CREATE OR REPLACE TABLE '{d}' "
            "(k STRING, v BIGINT, ver BIGINT) USING txlog",
        )
    assert t.read().count() == 10  # intact: the failure preceded data loss
    for decl, msg in (
        ("TBLPROPERTIES ('n_buckets'='8')", "n_buckets"),
        ("TBLPROPERTIES ('cdf'='true')", "cdf"),
        ("TBLPROPERTIES ('row_tracking'='true')", "row_tracking"),
        ("TBLPROPERTIES ('bloom_cols'='k')", "bloom_cols"),
        ("PARTITIONED BY (v)", "partition"),
    ):
        with pytest.raises(ValueError, match=msg):
            txsql(
                spark,
                f"CREATE OR REPLACE TABLE '{d}' "
                f"(k BIGINT, v BIGINT, ver BIGINT) USING txlog {decl}",
            )
    assert t.read().count() == 10


def test_select_where_file_skipping(spark, tmp_path, monkeypatch):
    """The SQL read path gets the library's file skipping: a
    single-table SELECT's literal WHERE conjuncts reach read()'s
    stats/bloom kwargs (eq / IN / ranges, bare or alias-qualified,
    composing with AS OF), results stay exact, and the skip is real
    (prune_report opens a strict file subset)."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=4, bloom_cols=("tag",),
    )
    t.append(spark.createDataFrame(
        [(i, f"tag{i}", i * 10, 1) for i in range(0, 200, 2)],
        "k long, tag string, v long, ver long",
    ))
    t.append(spark.createDataFrame(
        [(i, f"tag{i}", i * 10, 1) for i in range(1, 200, 2)],
        "k long, tag string, v long, ver long",
    ))
    v1 = t.latest_version()

    calls = []
    real = TxTable.read

    def spy(self, *a, **k):
        calls.append(k)
        return real(self, *a, **k)

    monkeypatch.setattr(TxTable, "read", spy)

    def run(sql, **kw):
        calls.clear()
        return txsql(spark, sql, tables={"t": t}, **kw)

    # bloom point lookup through SQL
    got = run("SELECT k, v FROM t WHERE tag = 'tag42'").collect()
    assert [(r["k"], r["v"]) for r in got] == [(42, 420)]
    assert calls and calls[0].get("eq") == {"tag": "tag42"}
    rep = t.prune_report({}, eq={"tag": "tag42"})
    assert rep["files_read"] < rep["files_total"]

    # ranges merge; extra non-literal conjuncts stay Catalyst's
    got = run(
        "SELECT count(*) AS n FROM t "
        "WHERE k >= 10 AND k < 20 AND v % 2 = 0"
    ).collect()[0]
    assert got["n"] == 10
    assert calls[0].get("prune") == {"k": (10, 20)}

    # IN list + alias qualification
    got = run(
        "SELECT sum(v) AS s FROM t a WHERE a.k IN (1, 2, 999)"
    ).collect()[0]
    assert got["s"] == 30
    assert calls[0].get("isin") == {"k": [1, 2, 999]}

    # composes with time travel
    got = run(
        f"SELECT k FROM t VERSION AS OF {v1} WHERE k = 7"
    ).collect()
    assert [r["k"] for r in got] == [7]
    assert calls[0].get("eq") == {"k": 7}

    # JOINs: an alias-qualified conjunct prunes ITS side only
    got = run(
        "SELECT count(*) AS n FROM t a JOIN t b ON a.k = b.k "
        "WHERE a.k = 5"
    ).collect()[0]
    assert got["n"] == 1
    assert sorted(
        (c.get("eq") or {} for c in calls[:2]), key=len
    ) == [{}, {"k": 5}]

    # NO extraction where attribution is not provable — results exact
    for sql, expect in (
        # CTE renames k: outer WHERE must not prune the inner scan
        ("WITH c AS (SELECT k + 1 AS k FROM t) "
         "SELECT count(*) AS n FROM c WHERE k = 5", 1),
        # top-level OR
        ("SELECT count(*) AS n FROM t WHERE k = 5 OR k = 7", 2),
        # bare conjunct in a join: not attributable
        ("SELECT count(*) AS n FROM t a JOIN (SELECT 5 AS kk) s "
         "ON a.k = s.kk WHERE v = 50", 1),
    ):
        got = run(sql).collect()[0]
        assert got["n"] == expect, sql
        assert all(
            not (c.get("eq") or c.get("prune") or c.get("isin"))
            for c in calls
        ), sql

    # a subquery conjunct is left alone, literal conjunct still prunes
    got = run(
        "SELECT count(*) AS n FROM t "
        "WHERE k IN (SELECT 5) AND tag = 'tag5'"
    ).collect()[0]
    assert got["n"] == 1
    assert calls[0].get("eq") == {"tag": "tag5"} and "isin" not in calls[0]

    # BETWEEN folds into a range; its AND doesn't split the conjunct
    got = run(
        "SELECT count(*) AS n FROM t "
        "WHERE k BETWEEN 10 AND 20 AND v >= 0"
    ).collect()[0]
    assert got["n"] == 11
    assert calls[0].get("prune") == {"k": (10, 20), "v": (0, None)}
    # NOT BETWEEN: conjunct dropped (no wrong range), result exact
    got = run(
        "SELECT count(*) AS n FROM t WHERE k NOT BETWEEN 10 AND 197"
    ).collect()[0]
    assert got["n"] == 12
    assert not calls[0].get("prune")

    # type-mismatched literals never reach the skip stack: SQL
    # coerces ('42' matches bigint 42) but blooms/min-max compare raw
    # values, so extraction would WRONGLY skip — conjunct dropped,
    # result exact via Catalyst
    got = run("SELECT count(*) AS n FROM t WHERE k = '42'").collect()[0]
    assert got["n"] == 1
    assert not any(
        c.get("eq") or c.get("prune") or c.get("isin") for c in calls
    )
    got = run(
        "SELECT count(*) AS n FROM t WHERE k IN (1, '2')"
    ).collect()[0]
    assert got["n"] == 2
    assert all("isin" not in c for c in calls)


def test_dml_predicate_file_pruning(spark, tmp_path, monkeypatch):
    """DML predicates fold into the mutation methods' ``prune`` /
    ``eq`` / ``isin`` kwargs with ``read``'s meaning (ranges merged,
    equality a point lookup, IN a value list) — attribution is trivial
    (one table) and results are unchanged."""
    t = _mk(spark, tmp_path, "t")
    seen = {}
    real_del = TxTable.delete_where
    real_upd = TxTable.update_where

    def skip_kw(k):
        return {n: k[n] for n in ("prune", "eq", "isin") if k.get(n)}

    def spy_del(self, pred, **k):
        seen["delete"] = skip_kw(k)
        return real_del(self, pred, **k)

    def spy_upd(self, pred, assignments, **k):
        seen["update"] = skip_kw(k)
        return real_upd(self, pred, assignments, **k)

    monkeypatch.setattr(TxTable, "delete_where", spy_del)
    monkeypatch.setattr(TxTable, "update_where", spy_upd)

    txsql(spark, "UPDATE t SET v = v + 1 WHERE k IN (1, 3)",
          tables={"t": t})
    assert seen["update"] == {"isin": {"k": [1, 3]}}
    st = _state(t)
    assert st[1] == (11, 1) and st[3] == (31, 1) and st[2] == (20, 1)

    txsql(spark, "DELETE FROM t WHERE k > 5 AND v = 90",
          tables={"t": t})
    assert seen["delete"] == {"prune": {"k": (5, None)}, "eq": {"v": 90}}
    assert 9 not in _state(t) and 8 in _state(t)

    # OR predicate: no skip kwargs, correct result
    txsql(spark, "DELETE FROM t WHERE k = 0 OR k = 8", tables={"t": t})
    assert seen["delete"] == {}
    st = _state(t)
    assert 0 not in st and 8 not in st and 7 in st


def test_explain_skipping(spark, tmp_path):
    """EXPLAIN SKIPPING reports the exact skip decision per ref
    without running the statement — pruned SELECT, unprunable SELECT
    (empty filters, full file count), DML predicate, and AS OF."""
    t = TxTable.create(
        spark, str(tmp_path / "t"), key_cols=("k",), order_col="ver",
        n_buckets=4, bloom_cols=("tag",),
    )
    t.append(spark.createDataFrame(
        [(i, f"tag{i}", i * 10, 1) for i in range(0, 100, 2)],
        "k long, tag string, v long, ver long",
    ))
    t.append(spark.createDataFrame(
        [(i, f"tag{i}", i * 10, 1) for i in range(1, 100, 2)],
        "k long, tag string, v long, ver long",
    ))
    r = txsql(
        spark,
        "EXPLAIN SKIPPING SELECT * FROM t WHERE tag = 'tag42'",
        tables={"t": t},
    ).collect()[0]
    assert r["table"] == "t" and r["files_total"] == 8
    assert r["files_read"] < r["files_total"]
    assert '"tag": "tag42"' in r["filters"]
    # unprunable: OR — full scan, empty filters
    r = txsql(
        spark,
        "EXPLAIN SKIPPING SELECT * FROM t WHERE k = 1 OR k = 2",
        tables={"t": t},
    ).collect()[0]
    assert r["files_read"] == r["files_total"] and r["filters"] == "{}"
    # DML
    r = txsql(
        spark,
        "EXPLAIN SKIPPING DELETE FROM t WHERE k >= 90",
        tables={"t": t},
    ).collect()[0]
    assert r["files_read"] <= r["files_total"]
    assert '"k"' in r["filters"]
    # statement was NOT executed
    assert t.read().count() == 100
    # MERGE: reports the find-phase (files the merge would rewrite)
    src = spark.createDataFrame(
        [(42, "zz", 0, 9)], "k long, tag string, v long, ver long"
    )
    r = txsql(
        spark,
        "EXPLAIN SKIPPING MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET *",
        tables={"t": t}, sources={"s": src},
    ).collect()[0]
    assert r["files_total"] == 8 and r["files_read"] < 8
    assert '"key_cols": ["k"]' in r["filters"]
    assert t.read().count() == 100  # not committed
    # a BY SOURCE clause forces the whole-table scope
    r = txsql(
        spark,
        "EXPLAIN SKIPPING MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
        tables={"t": t}, sources={"s": src},
    ).collect()[0]
    assert r["files_read"] == r["files_total"] == 8
    with pytest.raises(ValueError, match="EXPLAIN SKIPPING"):
        txsql(spark, "EXPLAIN SKIPPING VACUUM t", tables={"t": t})


# -- property: WHERE extraction is ALWAYS sound ----------------------------

from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402


@pytest.fixture(scope="module")
def _skip_table(spark, tmp_path_factory):
    """One bloom-indexed, multi-file table shared by every example;
    the full snapshot registered unpruned as the in-Spark oracle."""
    t = TxTable.create(
        spark,
        str(tmp_path_factory.mktemp("skipfuzz") / "t"),
        key_cols=("k",), order_col="ver", n_buckets=4,
        bloom_cols=("tag",),
    )
    rows = [(k, f"tag{k % 17}", float(k) * 1.5 - 20.0, 1)
            for k in range(-10, 150)]
    for lo in range(0, len(rows), 40):  # 4 waves → 16 files
        t.append(spark.createDataFrame(
            rows[lo:lo + 40], "k long, tag string, v double, ver long"
        ))
    t.read().createOrReplaceTempView("skipfuzz_full")
    return t


_num = st.integers(min_value=-15, max_value=160)
_k_lit = st.one_of(
    _num.map(str),
    _num.map(lambda n: f"'{n}'"),          # type-mismatch: string vs long
    st.floats(-15, 160, allow_nan=False).map(lambda f: f"{f:.2f}"),
)
_tag_lit = st.one_of(
    st.integers(0, 20).map(lambda n: f"'tag{n}'"),
    # no bare-number literal: ANSI-mode Spark ERRORS casting 'tagN'
    # to bigint, so `tag = 42` is a runtime error on both sides, not
    # a soundness case
    st.sampled_from(["'it''s'", "'x'"]),
)
_v_lit = st.floats(-40, 250, allow_nan=False).map(lambda f: f"{f:.3f}")
_cmp_op = st.sampled_from(["=", "<", "<=", ">", ">="])


def _col_atoms(col, lit):
    qual = st.sampled_from(["", "a."])
    return st.one_of(
        st.tuples(qual, _cmp_op, lit).map(
            lambda t: f"{t[0]}{col} {t[1]} {t[2]}"
        ),
        st.tuples(qual, st.lists(lit, min_size=1, max_size=4)).map(
            lambda t: f"{t[0]}{col} IN ({', '.join(t[1])})"
        ),
        st.tuples(qual, lit, lit, st.booleans()).map(
            lambda t:
            f"{t[0]}{col} "
            f"{'NOT ' if t[3] else ''}BETWEEN {t[1]} AND {t[2]}"
        ),
    )


_atom = st.one_of(
    _col_atoms("k", _k_lit),
    _col_atoms("tag", _tag_lit),
    _col_atoms("v", _v_lit),
    st.sampled_from([           # never-extractable shapes
        "k % 2 = 0", "k + 1 = 5", "abs(v) < 40",
        "tag LIKE 'tag1%'", "v IS NOT NULL",
        "k IN (SELECT 5)", "length(tag) = 4",
    ]),
)
_pred = st.one_of(
    st.lists(_atom, min_size=1, max_size=3).map(" AND ".join),
    st.tuples(_atom, _atom).map(lambda t: f"{t[0]} OR {t[1]}"),
)


@given(_pred)
@settings(
    max_examples=40, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@pytest.mark.slow
def test_where_extraction_sound_fuzz(spark, _skip_table, pred):
    """For ARBITRARY predicates from the grammar above — extractable,
    partially extractable, type-mismatched, OR'd, NOT BETWEEN,
    function-wrapped — the pruned SQL read returns exactly the rows
    the same predicate selects on the unpruned snapshot. File
    skipping must never change results, only the files opened."""
    sql = f"SELECT k, tag, v FROM t a WHERE {pred}"
    got = sorted(
        map(tuple, txsql(spark, sql, tables={"t": _skip_table})
            .collect())
    )
    want = sorted(
        map(tuple, spark.sql(
            f"SELECT k, tag, v FROM skipfuzz_full a WHERE {pred}"
        ).collect())
    )
    assert got == want, pred


def test_alter_tblproperties_parity(spark, tmp_path):
    """ALTER TABLE SET/UNSET TBLPROPERTIES — parser → the metadata
    methods; SHOW TBLPROPERTIES reflects the merged meta; structural
    keys refused through SQL too; auto-compact drivable end-to-end
    from SQL alone."""
    t = _mk(spark, tmp_path, "t")
    txsql(
        spark,
        "ALTER TABLE t SET TBLPROPERTIES ("
        "'owner' = 'ingest', auto_compact_files = 3)",
        tables={"t": t},
    )
    props = {
        r["key"]: r["value"]
        for r in txsql(spark, "SHOW TBLPROPERTIES t",
                       tables={"t": t}).collect()
    }
    assert props["owner"] == "ingest"
    assert props["auto_compact_files"] == "3"
    # SQL-driven appends hit the threshold → auto-compaction
    for i in range(3):
        txsql(
            spark,
            f"INSERT INTO t VALUES ({100 + i}, {i}, 1)",
            tables={"t": t},
        )
    ops = [r["op"] for r in t.history().collect()]
    assert "compact" in ops
    assert t.read().count() == 13
    txsql(spark, "ALTER TABLE t UNSET TBLPROPERTIES ('owner')",
          tables={"t": t})
    props = {
        r["key"]: r["value"]
        for r in txsql(spark, "SHOW TBLPROPERTIES t",
                       tables={"t": t}).collect()
    }
    assert "owner" not in props
    with pytest.raises(ValueError, match="structural"):
        txsql(spark,
              "ALTER TABLE t SET TBLPROPERTIES ('key_cols' = 'x')",
              tables={"t": t})


def test_create_table_free_tblproperties(spark, tmp_path):
    """Free TBLPROPERTIES at CREATE (beyond the structural keys the
    create call consumes) land in the table meta — one statement
    declares schema, keying, AND behavior like auto_compact_files."""
    t = txsql(
        spark,
        "CREATE TABLE t (k BIGINT, v BIGINT, ver BIGINT) USING txlog "
        f"LOCATION '{tmp_path / 'ct'}' TBLPROPERTIES ("
        "'key_cols' = 'k', 'order_col' = 'ver', 'n_buckets' = '2', "
        "'owner' = 'etl', 'auto_compact_files' = '3')",
    )
    assert t.meta["owner"] == "etl"
    assert t.meta["auto_compact_files"] == 3  # int-coerced
    assert t.meta["n_buckets"] == 2  # structural: consumed by create
    for i in range(3):  # same key → same bucket → 3 small files
        t.append(spark.createDataFrame(
            [(0, i, 1 + i)], "k long, v long, ver long"
        ))
    assert "compact" in [r["op"] for r in t.history().collect()]
    assert t.read().count() == 3
