"""Every catalog query hash-matches its DuckDB oracle — the same check
the driver runs (CORRECTNESS_r{N}.json), executed at sf0.001 for speed."""

from __future__ import annotations

import pytest

from kafka_flink_harshevents_spark.queries import all_oracles, all_queries
from kafka_flink_harshevents_spark.queries._util import det_sum_sql

from tests.conftest import SF_DIR, assert_matches_duckdb

QUERIES = all_queries()
ORACLES = all_oracles()

WITH_ORACLE = sorted(k for k in QUERIES if k in ORACLES)
WITHOUT_ORACLE = sorted(k for k in QUERIES if k not in ORACLES)


# The two end-to-end ingest-gate entries run multi-commit programs and
# dominate this suite's wall (their DuckDB oracle re-derives the whole
# dedup pipeline in SQL) — slow tier; the driver's own correctness
# harness and tools/oracle_audit.py cover them every round, and the
# dedup/verify behaviors keep default-tier tests in test_ingest.py.
_SLOW_ORACLE = {"doc_ingest_verify_gate", "doc_ingest_dedup_gate"}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(k, marks=pytest.mark.slow) if k in _SLOW_ORACLE else k
        for k in WITH_ORACLE
    ],
)
def test_query_matches_oracle(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert_matches_duckdb(df, ORACLES[name], SF_DIR)


@pytest.mark.slow
@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_catalog_oracle_audit(spark, sf):
    """The full catalog against its DuckDB oracles at the driver's
    scales (``tools/oracle_audit.py``): no entry fails or errors, and
    only the three approximate/generator entries have no oracle."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "tools", "oracle_audit.py"
    )
    spec = importlib.util.spec_from_file_location("oracle_audit", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    status = tool.audit(spark, os.path.join(os.path.dirname(SF_DIR), sf))
    assert {n: s for n, s in status.items() if s in ("FAIL", "ERROR")} == {}
    assert {n for n, s in status.items() if s == "rows-only"} == {
        "emb_knn_pq", "emb_knn_ivfpq", "pipeline_derive",
    }


EXPECTED_SCHEMAS = {
    "emb_knn_lsh": ["qid", "vec_id", "sim", "knn_rank"],
    "emb_knn_pq": ["qid", "vec_id", "sim", "knn_rank"],
    "emb_knn_ivfpq": ["qid", "vec_id", "sim", "knn_rank"],
    "pipeline_derive": ["violation_type", "n"],
}


@pytest.mark.parametrize("name", WITHOUT_ORACLE)
def test_query_runs(spark, name):
    """Oracle-less queries (approximate / generator-based) still run and
    keep a stable schema."""
    df = QUERIES[name](spark, SF_DIR)
    rows = df.collect()
    assert df.columns == EXPECTED_SCHEMAS[name]
    assert len(rows) >= 0


def test_lsh_recall_floor(spark):
    """emb_knn_lsh is approximate; assert its hits are a subset of the
    brute-force ranking universe and recall is sane (> 0 on this data)."""
    from kafka_flink_harshevents_spark.queries.embeddings import (
        emb_knn_brute,
        emb_knn_lsh,
    )

    exact = {
        (r["qid"], r["vec_id"]) for r in emb_knn_brute(spark, SF_DIR).collect()
    }
    approx = {
        (r["qid"], r["vec_id"]) for r in emb_knn_lsh(spark, SF_DIR).collect()
    }
    assert approx, "LSH returned nothing — bucketing is broken"
    # Every LSH hit must be a real vector pair with the right qid domain.
    assert all(q < 5 for q, _ in approx)
    recall = len(exact & approx) / len(exact)
    assert recall > 0.05, f"LSH recall suspiciously low: {recall}"


def test_ivfpq_recall_floor(spark):
    """IVF-PQ composite: k rows per query, no dups, exact re-rank sims,
    and recall above the gate's integer floor (coarse-stage misses make
    it lower than pure PQ by design — the accuracy/speed trade)."""
    from kafka_flink_harshevents_spark.queries.embeddings import (
        IVFPQ_RECALL_FLOOR_DEN,
        IVFPQ_RECALL_FLOOR_NUM,
        emb_knn_brute,
        emb_knn_ivfpq,
    )

    exact = {
        (r["qid"], r["vec_id"])
        for r in emb_knn_brute(spark, SF_DIR).collect()
    }
    rows = emb_knn_ivfpq(spark, SF_DIR).collect()
    got = {(r["qid"], r["vec_id"]) for r in rows}
    assert len(rows) == len(got) == len(exact)
    hits = len(exact & got)
    assert hits * IVFPQ_RECALL_FLOOR_DEN >= len(rows) * IVFPQ_RECALL_FLOOR_NUM, (
        f"IVF-PQ recall collapsed: {hits}/{len(rows)}"
    )


def test_pq_recall_floor(spark):
    """emb_knn_pq re-ranks a PQ-ADC shortlist exactly, so every hit it
    returns carries the TRUE cosine; recall@10 vs brute force is high
    (0.82 at sf0.01 with a 1.3% shortlist; the floor here is loose to
    absorb sf/codebook variation but far above chance)."""
    from kafka_flink_harshevents_spark.queries.embeddings import (
        emb_knn_brute,
        emb_knn_pq,
    )

    exact = {(r["qid"], r["vec_id"]) for r in emb_knn_brute(spark, SF_DIR).collect()}
    pq_rows = emb_knn_pq(spark, SF_DIR).collect()
    pq = {(r["qid"], r["vec_id"]) for r in pq_rows}
    assert len(pq_rows) == len(pq) == len(exact)  # k rows per query, no dups
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.5, f"PQ recall collapsed: {recall}"
    # re-rank is exact: for overlapping pairs the sim must equal brute's
    brute_sim = {
        (r["qid"], r["vec_id"]): r["sim"]
        for r in emb_knn_brute(spark, SF_DIR).collect()
    }
    for r in pq_rows:
        key = (r["qid"], r["vec_id"])
        if key in brute_sim:
            assert abs(r["sim"] - brute_sim[key]) < 1e-9


@pytest.mark.parametrize("name", ["emb_knn_pq", "emb_knn_ivfpq"])
def test_pq_construction_is_lazy(spark, name):
    """Building a PQ entry runs exactly one Spark action, the codebook
    training collect; the query vectors and the ADC lookup tables stay
    in the lazy plan. AQE is off while counting, so each action is one
    job, and the parquet schema read that ``load`` schedules is
    measured alone and subtracted."""
    import os

    from kafka_flink_harshevents_spark.queries import embeddings
    from kafka_flink_harshevents_spark.queries._util import load

    sc = spark.sparkContext
    sf_dir = os.path.join(os.path.dirname(SF_DIR), "sf0.01")

    def jobs(group, build):
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        read = jobs(f"read-{name}", lambda: load(spark, sf_dir, "embeddings"))
        built = jobs(
            f"construct-{name}", lambda: embeddings.QUERIES[name](spark, sf_dir)
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert built - read == 1


def test_ann_kernels_spelled_once():
    """Each kNN mechanism in ``queries/embeddings.py`` is written once:
    the ``knn_rank`` window, the PQ_SHORTLIST window and the PQ_SUB_DIM
    subvector slice; and no function the PQ entries reach calls
    ``.collect(`` except the codebook training."""
    import ast
    import pathlib

    from kafka_flink_harshevents_spark.queries import embeddings

    tree = ast.parse(pathlib.Path(embeddings.__file__).read_text())
    funcs = {
        n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)
    }

    def nodes(pred):
        return [
            n for f in funcs.values() for n in ast.walk(f) if pred(n)
        ]

    rank_windows = nodes(
        lambda n: isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "withColumn"
        and isinstance(n.args[0], ast.Constant)
        and n.args[0].value == "knn_rank"
    )
    shortlists = nodes(
        lambda n: isinstance(n, ast.Name) and n.id == "PQ_SHORTLIST"
    )
    # a Spark SQL ``slice(`` string, a Python ``[a:b]`` slice or a
    # ``F.slice`` call, any of them sized by PQ_SUB_DIM
    slices = nodes(
        lambda n: "PQ_SUB_DIM" in ast.unparse(n)
        and (
            (isinstance(n, ast.JoinedStr) and "slice(" in ast.unparse(n))
            or (isinstance(n, ast.Subscript) and isinstance(n.slice, ast.Slice))
            or (
                isinstance(n, ast.Call)
                and ast.unparse(n.func).split(".")[-1] == "slice"
            )
        )
    )
    assert len(rank_windows) == 1
    assert len(shortlists) == 1
    assert len(slices) == 1

    # every module function reachable from the PQ entries
    reach, todo = set(), ["emb_knn_pq_recall", "emb_knn_ivfpq_recall"]
    while todo:
        name = todo.pop()
        if name in reach:
            continue
        reach.add(name)
        todo += [
            n.id for n in ast.walk(funcs[name])
            if isinstance(n, ast.Name) and n.id in funcs
        ]
    assert {"emb_knn_pq", "emb_knn_ivfpq", "_pq_train_codebooks"} <= reach
    collectors = sorted(
        name for name in reach
        if any(
            isinstance(n, ast.Attribute) and n.attr == "collect"
            for n in ast.walk(funcs[name])
        )
    )
    assert collectors == ["_pq_train_codebooks"]


def test_neardup_lsh_fallback_subset(spark):
    """The size-guard fallback for emb_neardup_pairs (LSH signature
    blocking) must emit a subset of the exact pair set with identical
    similarities — verified against the exact block-matmul path."""
    from pyspark.sql import functions as F

    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.embeddings import (
        _neardup_block_matmul,
        _neardup_lsh_blocked,
    )

    e = load(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    n = e.count()
    exact = {
        (r["va"], r["vb"]): r["cos_sim"]
        for r in _neardup_block_matmul(e, n).collect()
    }
    approx = {
        (r["va"], r["vb"]): r["cos_sim"]
        for r in _neardup_lsh_blocked(e).collect()
    }
    assert set(approx) <= set(exact), "fallback emitted a non-exact pair"
    for k, v in approx.items():
        assert v == exact[k]
    assert approx, "fallback found no pairs at all on near-dup data"


def test_cc_shuffled_path_matches_broadcast(spark):
    """min_label_components picks driver union-find vs broadcast loop vs
    shuffled loop by a one-time edge-count probe; all three paths must
    produce the identical labeling on a graph mixing chains, a clique,
    and isolated pairs — proving the guarded escalation a 100 TB pair
    graph climbs is semantics-preserving at every rung."""
    from kafka_flink_harshevents_spark.operators.graph import min_label_components

    edges = (
        # two long chains (pointer-jump stress), one clique, stray pairs
        [(i, i + 1) for i in range(0, 30)]
        + [(100 + i, 100 + i + 1) for i in range(0, 17)]
        + [(200 + a, 200 + b) for a in range(5) for b in range(a + 1, 5)]
        + [(300, 301), (400, 401)]
    )
    pairs = spark.createDataFrame(edges, "a long, b long").repartition(8)
    want = {  # default: driver union-find at this size
        (r["node"], r["component"])
        for r in min_label_components(pairs, "a", "b").collect()
    }
    via_broadcast_loop = {
        (r["node"], r["component"])
        for r in min_label_components(
            pairs, "a", "b", max_driver_edges=0
        ).collect()
    }
    got = {  # shuffled loop
        (r["node"], r["component"])
        for r in min_label_components(
            pairs, "a", "b", max_driver_edges=0, max_broadcast_edges=0
        ).collect()
    }
    assert want == via_broadcast_loop == got
    # full convergence: every chain/clique member maps to its true min
    comp = dict(want)
    assert all(comp[i] == 0 for i in range(31))
    assert all(comp[100 + i] == 100 for i in range(18))
    assert all(comp[200 + i] == 200 for i in range(5))


def test_jaccard_ppjoin_path_matches_oracle(spark):
    """doc_ngram_jaccard_pairs routes to the dense-matmul path at test
    scale; the PPJoin prefix-filter path (large-vocabulary fallback) must
    produce the identical exact result."""
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.documents import (
        ORACLES,
        _jaccard_ppjoin,
        _shingles,
    )

    df = _jaccard_ppjoin(_shingles(load(spark, SF_DIR, "documents")))
    # Scale guard: the sparse path is chosen exactly when the corpus is
    # too big to broadcast, so the verify stage must NOT carry an
    # explicit broadcast hint anywhere (AQE may still broadcast-convert
    # the candidate-bounded semi-joined side — that's runtime-sized and
    # fine; a planted hint is not).
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in analyzed.lower(), "corpus broadcast hint in PPJoin verify"
    assert_matches_duckdb(df, ORACLES["doc_ngram_jaccard_pairs"], SF_DIR)


def test_percentile_approx_tracks_exact(spark):
    """The 100 TB percentile path: percentile_approx (mergeable t-digest
    style sketch, no global sort) stays within 1% relative error of the
    exact inverse-CDF picks that ev_percentile_stats computes — the
    documented swap once the exact-rank plan's shuffle dominates."""
    from pyspark.sql import functions as F
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.events import ev_percentile_stats

    exact = ev_percentile_stats(spark, SF_DIR).collect()[0]
    e = load(spark, SF_DIR, "events")
    n = e.count()
    approx = (
        e.agg(F.percentile_approx("value", [0.5, 0.95], 10_000).alias("p"))
        .collect()[0]["p"]
    )
    # the sketch guarantees RANK error (<= n/accuracy, plus a one-position
    # convention difference vs our floor(n*q)+1 pick), so assert the rank
    # of the approx value, not its magnitude
    for q, (a, x) in zip((0.5, 0.95), zip(approx, (exact["p50"], exact["p95"]))):
        rank = e.filter(F.col("value") <= a).count()
        assert abs(rank - n * q) <= max(2, n / 10_000 + 1), (q, a, x, rank)


def test_native_session_window_parity(spark):
    """Triangulation: Spark's built-in session_window produces exactly
    the sessions that sessionize_batch (the lag/gap/cumsum plan that
    hash-matches the DuckDB oracle) produces — custom stack, native
    operator, and oracle all agree on the same 300 s gap rule."""
    from pyspark.sql import functions as F
    from kafka_flink_harshevents_spark.operators.sessions import sessionize_batch
    from kafka_flink_harshevents_spark.queries._util import load, ts_millis

    e = load(spark, SF_DIR, "events").select(
        "user_id", ts_millis("ts").alias("ts_ms")
    )
    custom = sessionize_batch(e, key_col="user_id", ts_col="ts_ms", gap=300_000)
    native = (
        e.withColumn("ts", F.timestamp_millis("ts_ms"))
        .groupBy("user_id", F.session_window("ts", "300 seconds"))
        .agg(
            F.min("ts_ms").alias("start_timestamp"),
            F.max("ts_ms").alias("end_timestamp"),
            F.count(F.lit(1)).alias("n_touches"),
        )
    )
    cols = ["user_id", "start_timestamp", "end_timestamp", "n_touches"]
    a = sorted(map(tuple, custom.select(*cols).collect()))
    b = sorted(map(tuple, native.select(*cols).collect()))
    assert a == b and len(a) > 0


def test_approx_count_distinct_tracks_exact(spark):
    """The 100 TB distinct-count path: approx_count_distinct (HLL++,
    mergeable, no expand/two-phase distinct shuffle) stays within its
    documented 5% relative error of the exact per-group counts from
    q_distinct_agg."""
    from pyspark.sql import functions as F
    from kafka_flink_harshevents_spark.queries._util import load

    o = load(spark, SF_DIR, "orders")
    exact = {
        r["o_orderpriority"]: r["n"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    approx = {
        r["o_orderpriority"]: r["n"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.approx_count_distinct("o_custkey", rsd=0.05).alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.05 * n) * 3, (k, approx[k], n)


def test_freq_items_superset_of_true_heavy_hitters(spark):
    """The 100 TB heavy-hitters path: DataFrame.freqItems (single-pass
    Karp-Papadimitriou-Shenker) must return a SUPERSET of the items with
    true frequency >= the support threshold — the algorithm's guarantee,
    asserted against exact counts from ev_type_counts' groupBy."""
    from pyspark.sql import functions as F
    from kafka_flink_harshevents_spark.queries._util import load

    e = load(spark, SF_DIR, "events")
    n = e.count()
    support = 0.1
    exact_heavy = {
        r["event_type"]
        for r in e.groupBy("event_type").count().collect()
        if r["count"] >= support * n
    }
    approx = set(e.freqItems(["event_type"], support).collect()[0][0])
    assert exact_heavy <= approx, (exact_heavy, approx)
    assert exact_heavy  # non-vacuous: the enum really has heavy hitters


# Spark-SQL twins for the few relational oracles whose DuckDB dialect
# Spark cannot parse (strftime/date_diff/epoch_ms/FILTER-without-WHERE/
# VARCHAR/ASOF JOIN). Everything not listed here runs the ORACLES text
# verbatim through spark.sql — the SQL front-end is proven on the exact
# same strings DuckDB verifies.
_SPARK_SQL_TWINS = {
    # DuckDB's exact integer division `//` is `DIV` in Spark SQL;
    # everything else in the histogram oracle parses in both dialects.
    "q_histogram_equiheight": """
        WITH r AS (
            SELECT l_extendedprice AS v,
                   row_number() OVER (
                       ORDER BY l_extendedprice,
                                l_orderkey * 10 + l_linenumber) AS rn,
                   count(*) OVER () AS n
            FROM lineitem
        )
        SELECT CAST(((rn - 1) * 16) DIV n AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT v) AS BIGINT) AS ndv,
               CAST(min(CAST(v AS DECIMAL(18,2))) AS STRING) AS lo_repr,
               CAST(max(CAST(v AS DECIMAL(18,2))) AS STRING) AS hi_repr
        FROM r GROUP BY 1
    """,
    "q_customer_ltv": """
        WITH c AS (
            SELECT o_custkey,
                   count(*) AS n_orders,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
                   min(o_orderdate) AS f,
                   max(o_orderdate) AS l
            FROM orders GROUP BY 1
        ),
        r AS (
            SELECT *,
                   CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS rn,
                   count(*) OVER () AS n
            FROM c
        )
        SELECT o_custkey, n_orders,
               round(cents / 100.0D, 2) AS total_spend,
               CAST(datediff(l, f) AS BIGINT) AS active_days,
               CAST(floor(10.0 * (rn - 1) / n) AS BIGINT) AS spend_decile
        FROM r
    """,
    "q_yearly_growth": """
        WITH y AS (
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1, 2
        )
        SELECT nation, o_year,
               round(rev_cents / 100.0D, 2) AS revenue,
               CASE WHEN lag(rev_cents) OVER w IS NOT NULL
                    THEN round((rev_cents - lag(rev_cents) OVER w) * 1.0D
                               / lag(rev_cents) OVER w, 4)
               END AS yoy_growth
        FROM y
        WINDOW w AS (PARTITION BY nation ORDER BY o_year)
    """,
    "q3_shipping_priority": f"""
        SELECT l_orderkey,
               date_format(o_orderdate, 'yyyy-MM-dd') AS o_orderdate,
               o_orderpriority,
               {det_sum_sql("l_extendedprice * (1 - l_discount)", 2)} AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-06-30'
          AND l_shipdate  > TIMESTAMP '1997-06-30'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "q_asof_latest_order": """
        WITH o AS (
            SELECT o_custkey AS user_id,
                   unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS odate_ms,
                   o_orderkey, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_custkey, o_orderdate
                       ORDER BY o_orderkey DESC
                   ) AS rd
            FROM orders
        ), od AS (SELECT * FROM o WHERE rd = 1),
        e AS (SELECT event_id, user_id,
                    unix_millis(CAST(ts AS TIMESTAMP)) AS ts_ms FROM events),
        j AS (
            SELECT e.event_id, e.user_id, e.ts_ms,
                   od.o_orderkey, od.o_totalprice,
                   row_number() OVER (
                       PARTITION BY e.event_id
                       ORDER BY od.odate_ms DESC NULLS LAST
                   ) AS rk
            FROM e LEFT JOIN od
              ON e.user_id = od.user_id AND od.odate_ms <= e.ts_ms
        )
        SELECT event_id, user_id, ts_ms, o_orderkey, o_totalprice
        FROM j WHERE rk = 1
    """,
    "q_priority_status_pivot": """
        SELECT o_orderpriority,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f
        FROM orders GROUP BY o_orderpriority
    """,
    "q18_large_volume_customers": """
        SELECT c_custkey, c_name, o_orderkey,
               date_format(o_orderdate, 'yyyy-MM-dd') AS o_orderdate,
               o_totalprice,
               round(sum_qty, 2) AS sum_qty
        FROM orders
        JOIN (
            SELECT l_orderkey AS bk, sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
        ) ON o_orderkey = bk
        JOIN customer ON o_custkey = c_custkey
    """,
    "q22_global_sales_opportunity": f"""
        WITH in_codes AS (
            SELECT *, CAST(c_custkey % 10 AS STRING) AS cntrycode
            FROM customer
            WHERE CAST(c_custkey % 10 AS STRING) IN ('1','3','5','7','9')
        )
        SELECT cntrycode,
               count(*) AS numcust,
               {det_sum_sql("c_acctbal", 2)} AS totacctbal
        FROM in_codes
        WHERE c_acctbal > (
            SELECT avg(c_acctbal) FROM in_codes WHERE c_acctbal > 0.0
        )
        AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2000-01-01'
        )
        GROUP BY cntrycode
    """,
}


def _relational_catalog():
    from kafka_flink_harshevents_spark.queries import relational, relational_ext

    names = [
        n
        for n in list(relational.QUERIES) + list(relational_ext.QUERIES)
        if n in {**relational.ORACLES, **relational_ext.ORACLES}
    ]
    return names


@pytest.mark.parametrize("name", _relational_catalog())
def test_sql_surface_matches_dataframe(spark, name):
    """Every relational catalog entry answered through the literal-SQL
    front-end (spark.sql over registered views) must equal the
    DataFrame-API form — same engine, two surfaces, one answer. The SQL
    text is the DuckDB oracle string itself wherever Spark parses it;
    the dialect-divergent entries use a Spark twin from
    _SPARK_SQL_TWINS. Runs at sf0.01 so every entry is non-empty."""
    from kafka_flink_harshevents_spark.queries import relational, relational_ext
    from kafka_flink_harshevents_spark.queries._util import TABLES, load

    sf01 = "/root/testdata/sf0.01"
    for t in TABLES:
        load(spark, sf01, t).createOrReplaceTempView(t)
    oracles = {**relational.ORACLES, **relational_ext.ORACLES}
    queries = {**relational.QUERIES, **relational_ext.QUERIES}
    sql_df = spark.sql(_SPARK_SQL_TWINS.get(name, oracles[name]))
    api_df = queries[name](spark, sf01)
    cols = sorted(api_df.columns)
    assert sorted(sql_df.columns) == cols
    sql_rows = sorted(tuple(r[c] for c in cols) for r in sql_df.collect())
    api_rows = sorted(tuple(r[c] for c in cols) for r in api_df.collect())
    assert sql_rows == api_rows
    assert len(api_rows) > 0


def test_sql_api_surface_matches_dataframe_catalog(spark):
    """The SQL front-end is a first-class query surface: the same engine
    answers literal ANSI SQL over registered views identically to the
    DataFrame catalog (Catalyst plans both). Demonstrated on the
    flagship aggregate and a window query."""
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.relational import q1_pricing_summary

    load(spark, SF_DIR, "lineitem").createOrReplaceTempView("sql_lineitem")
    sql_q1 = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE), 2)
                   AS sum_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE), 2)
                   AS sum_base_price,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(30,6))) AS DOUBLE), 2)
                   AS sum_disc_price,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                                   AS DECIMAL(30,6))) AS DOUBLE), 2)
                   AS sum_charge,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
                     / count(l_quantity), 4) AS avg_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
                     / count(l_extendedprice), 4) AS avg_price,
               round(CAST(sum(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE)
                     / count(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM sql_lineitem
        WHERE l_shipdate <= date'1998-12-01' - INTERVAL '90' DAY
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    )
    df_q1 = q1_pricing_summary(spark, SF_DIR)
    cols = sorted(df_q1.columns)
    assert sorted(sql_q1.columns) == cols
    assert sorted(tuple(r[c] for c in cols) for r in sql_q1.collect()) == sorted(
        tuple(r[c] for c in cols) for r in df_q1.collect()
    )

    load(spark, SF_DIR, "events").createOrReplaceTempView("sql_events")
    top = spark.sql(
        """
        SELECT user_id, event_id, value FROM (
            SELECT user_id, event_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY value DESC, event_id) AS rk
            FROM sql_events
        ) WHERE rk = 1
        """
    ).collect()
    assert len(top) > 0 and all(r["value"] is not None for r in top)


def test_kmeans_deterministic_and_monotone(spark):
    """emb_kmeans must be bit-deterministic (decimal-exact centroid
    means, deterministic init and tie-breaks): two full runs produce
    identical gate rows, and the per-iteration inertia sequence is
    non-increasing (Lloyd's invariant)."""
    from pyspark.sql import functions as F
    from kafka_flink_harshevents_spark.queries.embeddings import (
        KMEANS_ITERS,
        KMEANS_K,
        emb_kmeans,
    )
    from kafka_flink_harshevents_spark.queries._util import load

    r1 = emb_kmeans(spark, SF_DIR).collect()
    r2 = emb_kmeans(spark, SF_DIR).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]
    row = r1[0]
    assert row["k"] == KMEANS_K and row["full_coverage"] and row["inertia_decreased"]
    assert row["n_vectors"] == load(spark, SF_DIR, "embeddings").count()
    assert KMEANS_ITERS >= 2


def test_kmeans_driver_path_matches_distributed(spark, monkeypatch):
    """The size-guarded driver Lloyd loop (bounded Arrow collect, same
    quantized kernel) must emit the identical gate row to the
    distributed per-round mapInPandas path — int64 partial sums are
    associative, so any row grouping gives the same totals. Forced by
    zeroing the guard."""
    from kafka_flink_harshevents_spark.queries import embeddings as E

    fast = [tuple(r) for r in E.emb_kmeans(spark, SF_DIR).collect()]
    monkeypatch.setattr(E, "KMEANS_DRIVER_MAX_VECS", 0)
    dist = [tuple(r) for r in E.emb_kmeans(spark, SF_DIR).collect()]
    assert fast == dist


def test_pca_matches_driver_local(spark):
    """emb_pca's distributed partial-Gram pipeline must agree with a
    single-process numpy PCA on the same vectors: identical eigenvalue
    spectrum (to float tolerance) and a fully-true gate row. Catches
    dropped partials, wrong centering, and mis-ordered eigh output."""
    import numpy as np
    from kafka_flink_harshevents_spark.queries.embeddings import (
        EMB_DIM,
        PCA_K,
        emb_pca,
    )
    from kafka_flink_harshevents_spark.queries._util import load

    row = emb_pca(spark, SF_DIR).collect()[0]
    assert row["d"] == EMB_DIM and row["k"] == PCA_K
    assert row["eigs_nonincreasing"] and row["orthonormal"]
    assert row["trace_consistent"] and row["var_topk_ge_uniform"]

    vecs = [
        r["embedding"]
        for r in load(spark, SF_DIR, "embeddings").select("embedding").collect()
    ]
    x = np.array(vecs, dtype=np.float64)
    assert row["n_vectors"] == len(x)
    xc = x - x.mean(0)
    ref_eigs = np.linalg.eigh(xc.T @ xc / len(x))[0][::-1]
    # recompute the distributed covariance the same way emb_pca does
    # (population covariance) and compare traces as a spectrum proxy
    assert abs(ref_eigs.sum() - xc.var(0).sum()) < 1e-9
    # gate row is deterministic across runs
    row2 = emb_pca(spark, SF_DIR).collect()[0]
    assert tuple(row) == tuple(row2)


def test_det_aggregation_partitioning_invariant(spark):
    """The r02 flake class, pinned: grouped det_sum/det_avg emissions
    must be BYTE-identical under wildly different partitionings (1, 7,
    32-way) — exact-decimal quantization makes the combine
    associative/commutative, so no partial-aggregation order can flip a
    rounding boundary."""
    from pyspark.sql import functions as F
    from kafka_flink_harshevents_spark.queries._util import det_avg, det_sum, load

    e = load(spark, SF_DIR, "events").select("event_type", "value")
    baseline = None
    for parts in (1, 7, 32):
        rows = sorted(
            tuple(r)
            for r in e.repartition(parts)
            .groupBy("event_type")
            .agg(
                det_sum("value", 2).alias("s"),
                det_avg("value", 4).alias("a"),
            )
            .collect()
        )
        if baseline is None:
            baseline = rows
        else:
            assert rows == baseline, f"partitioning {parts} changed the emit"


EMPTY_REPRESENTATIVES = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q11_important_parts",
    "q21_waiting_supplier", "q_customer_ltv", "q_grouping_sets",
    "ev_sessionize_300s", "ev_percentile_stats", "ev_range_frame_sum",
    "ev_approx_distinct", "ev_locf_resample", "ev_funnel",
    "doc_minhash_lsh_pairs", "doc_neardup_clusters", "doc_dedup_report",
    "doc_bm25_topk", "doc_winnowing", "doc_pack_sequences",
    "emb_knn_brute", "emb_kmeans", "emb_pca", "emb_neardup_clusters",
    "emb_knn_pq_recall", "ev_ab_test",
    "mm_pack_shards", "pipeline_derive",
    # round-3 late additions
    "doc_delete_propagation", "doc_snapshot_diff", "doc_bpe_train",
    "ev_kmv_distinct",
    # round-4 additions
    "doc_shuffle_order", "doc_perplexity_buckets", "doc_bpe_encode",
    "doc_neardup_triangles", "mm_resize_batch", "emb_knn_sq8",
    "ev_heavy_hitters",
    # round-4 second wave
    "ev_count_min", "ev_decayed_counts", "doc_zorder_layout",
    "ev_scd2_intervals", "ev_session_overlap", "emb_matryoshka_recall",
    "doc_bigram_logprob", "doc_minhash_calibration", "q_analyze_table",
    "q1_incremental_refresh", "q_histogram_equiheight",
    "doc_neardup_pagerank",
    # round-4 third wave
    "q_bloom_prune", "q_constraint_audit", "ev_type_cooccurrence",
    "ev_kmv_set_ops",
    # round-4 fifth wave
    "ev_session_paths", "ev_interarrival_hist", "ev_hll_partial_merge",
    "doc_collocation_pmi", "doc_kn_logprob", "ev_rfm_segments",
    # round-5 lakehouse entries (empty base: append commits schema only,
    # merge/delete no-op, CDF loop empty, zorder no-ops)
    "q_txlog_cdf_replay", "q_txlog_metadata_agg", "q_txlog_zorder_gate",
]


@pytest.fixture(scope="session")
def empty_sf_dir(tmp_path_factory):
    """All ten tables with their real schemas and zero rows."""
    import duckdb

    out = tmp_path_factory.mktemp("empty_sf")
    con = duckdb.connect()
    for t in sorted(
        {"region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings"}
    ):
        con.execute(
            f"COPY (SELECT * FROM '{SF_DIR}/{t}.parquet' LIMIT 0) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
    return str(out)


@pytest.mark.parametrize("name", EMPTY_REPRESENTATIVES)
def test_empty_input_robustness(spark, empty_sf_dir, name):
    """Engine-grade degradation: zero-row inputs must produce a clean
    (possibly zero-row) answer, never a crash — pinned here on one
    representative per operator family; the full 116-entry catalog was
    swept green on empty tables during round 3 (COVERAGE.md)."""
    df = QUERIES[name](spark, empty_sf_dir)
    rows = df.collect()
    assert rows is not None and len(df.columns) > 0


def test_kmv_sketch_partitioning_invariant(spark):
    """The KMV sketch's merge tree must be partitioning-independent:
    the k-smallest-hash state (and therefore the estimate) is a pure
    function of the distinct value set, so 1-, 7- and 32-way inputs
    emit byte-identical rows — the property that lets sketch unions run
    on any cluster layout."""
    from pyspark.sql import functions as F

    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.events import kmv_sketch

    baseline = None
    for parts in (1, 7, 32):
        dist = (
            load(spark, SF_DIR, "events")
            .repartition(parts)
            .select("event_type", "user_id")
            .distinct()
        )
        fin = kmv_sketch(dist, "event_type", "user_id")
        rows = sorted(
            (r["event_type"], tuple(r["arr"]), r["n_exact"])
            for r in fin.collect()
        )
        if baseline is None:
            baseline = rows
        else:
            assert rows == baseline, f"partitioning {parts} changed the sketch"


# Non-relational catalog entries whose DuckDB oracle text is ALSO valid
# Spark SQL with identical semantics — the SQL front-end proof extended
# beyond the relational set (entries omitted here use DuckDB-only
# functions: epoch_ms/strftime/arg_max/list_* lambdas).
def test_bloom_prune_properties(spark):
    """The Bloom prefilter's contract: (a) NO false negatives — every
    true-matching fact row survives the prefilter; (b) the
    false-positive passthrough stays under the analytic bound for
    m=2^16/k=4; (c) the probe is scan-local — no join and no exchange
    anywhere in the pruned plan (the bitmap rides the scan as a
    constant)."""
    import pyspark.sql.functions as F

    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.relational_ext import (
        BLOOM_M, _BLOOM_SEEDS, bloom_prefilter,
    )

    sf01 = "/root/testdata/sf0.01"
    keys = (
        load(spark, sf01, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
    )
    orders = load(spark, sf01, "orders")
    pruned = bloom_prefilter(orders, "o_custkey", keys)

    n_keys = keys.count()
    n_total = orders.count()
    n_true = orders.join(keys, orders["o_custkey"] == keys["k"], "left_semi").count()
    n_pruned = pruned.count()
    n_true_surviving = pruned.join(
        keys, pruned["o_custkey"] == keys["k"], "left_semi"
    ).count()
    assert n_true_surviving == n_true  # no false negatives
    import math

    k = len(_BLOOM_SEEDS)
    expected_fp = (1 - math.exp(-k * n_keys / BLOOM_M)) ** k
    fp_rate = (n_pruned - n_true) / max(1, n_total - n_true)
    assert fp_rate <= max(0.02, 3 * expected_fp)

    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan


_CROSS_DIALECT_SQL = [
    "doc_exact_dedup", "ev_approx_distinct", "ev_approx_quantile",
    "ev_cube", "ev_enrich_vehicle", "ev_histogram",
    "ev_percentile_by_type", "ev_percentile_stats", "ev_type_counts",
    "ev_type_cooccurrence", "ev_user_topk", "ev_value_band_join",
]


@pytest.mark.parametrize("name", _CROSS_DIALECT_SQL)
def test_sql_surface_events_docs(spark, name):
    """The literal oracle text runs through spark.sql and equals the
    DataFrame-API form — same engine, two surfaces, one answer, now for
    the event/document families too (the relational catalog has its own
    full parametrized suite above)."""
    from kafka_flink_harshevents_spark.queries._util import TABLES, load

    sf01 = "/root/testdata/sf0.01"
    for t in TABLES:
        load(spark, sf01, t).createOrReplaceTempView(t)
    sql_df = spark.sql(ORACLES[name])
    api_df = QUERIES[name](spark, sf01)
    cols = sorted(api_df.columns)
    assert sorted(sql_df.columns) == cols
    sql_rows = sorted(tuple(str(r[c]) for c in cols) for r in sql_df.collect())
    api_rows = sorted(tuple(str(r[c]) for c in cols) for r in api_df.collect())
    assert sql_rows == api_rows


# Representative per family for the partitioning-invariance sweep: the
# nondeterminism risk classes are float-aggregation combine order (the
# det_sum family), top-k / window ties, collect_list order, and
# guarded-path selection. One run at 3-way and one at 32-way shuffle
# partitioning must emit IDENTICAL sorted rows.
PARTITIONING_REPRESENTATIVES = [
    "q1_pricing_summary",        # det_sum aggregates
    "ev_props_variant",          # the r02 flake class
    "ev_user_topk",              # top-k tie-break
    "ev_kmv_distinct",           # sketch state from collect_list
    "ev_percentile_by_type",     # distributed grouped rank
    "ev_heavy_hitters",          # per-shard sequential fold
    "doc_minhash_lsh_pairs",     # min-hash aggregate
    "doc_winnowing",             # array-fold fingerprints
    "doc_sample_fixed_k",        # two-phase salt rank
    "doc_unigram_logprob",       # hi/lo long sums
    "doc_shuffle_order",         # per-shard row_number
    "doc_perplexity_buckets",    # grouped rank + tertiles
    "doc_bpe_train",             # iterative argmax with ties
    "doc_neardup_clusters",      # CC label propagation
    "emb_kmeans",                # fixed-point partials
    "emb_knn_sq8",               # quantized top-k
    "emb_pca",                   # decimal Gram partials
    "mm_phash_pairs",            # pigeonhole buckets
    "ev_count_min",              # CM sketch cells + top-n tie-break
    "doc_zorder_layout",         # tie-heavy distributed rank (256 z values)
    "doc_neardup_pagerank",      # integer fixed-point iterative loop
    "ev_type_cooccurrence",      # collect_set pair explosion (sorted sets)
    "ev_kmv_set_ops",            # merged sketches + pair-domain exact twins
    "ev_session_paths",          # collect_list ordered only by array_sort
    "doc_collocation_pmi",       # float ln over join-attached exact counts
]


@pytest.mark.parametrize("name", PARTITIONING_REPRESENTATIVES)
def test_partitioning_invariance(spark, name):
    """Byte-identical output under different shuffle widths — the
    property the det_sum/hi-lo/total-order conventions exist to
    guarantee, swept across every risk family (the CORRECTNESS_r02
    `ev_props_variant` flake was exactly a violation of this)."""
    def run(parts):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            df = QUERIES[name](spark, SF_DIR)
            cols = sorted(df.columns)
            return sorted(
                tuple(r[c] for c in cols) for r in df.collect()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    assert run(3) == run(32), f"{name} emits partitioning-dependent rows"


def test_session_paths_consistent_with_sessionize(spark):
    """Path mining and the sessionize entry share the 2 h gap and the
    (tms, event_id) total order, so the number of sessions agrees
    exactly; every path is capped at PATH_MAX_STEPS steps."""
    from kafka_flink_harshevents_spark.queries.analytics import (
        PATH_MAX_STEPS,
        ev_session_paths,
    )
    from kafka_flink_harshevents_spark.queries.events import ev_sessionize_2h

    paths = ev_session_paths(spark, SF_DIR).collect()
    n_sessions = sum(r["n_sessions"] for r in paths)
    assert n_sessions == ev_sessionize_2h(spark, SF_DIR).count()
    assert all(len(r["path"].split(">")) <= PATH_MAX_STEPS for r in paths)
    assert all(r["n_users"] <= r["n_sessions"] for r in paths)


def test_hll_partial_merge_equals_direct_sketch(spark):
    """The property the entry's gate asserts against EXACT counts is
    checked here against the sketch itself: merging hourly partials
    must estimate the same as sketching the day directly (union of
    partials commutes with aggregation — the rollup-table property)."""
    from pyspark.sql import functions as F

    from kafka_flink_harshevents_spark.queries._util import load

    e = load(spark, SF_DIR, "events").select(
        F.to_date("ts").alias("day"), F.hour("ts").alias("hr"), "user_id"
    )
    merged = (
        e.groupBy("day", "hr")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    direct = e.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    )
    m = {r["day"]: r["est"] for r in merged.collect()}
    d = {r["day"]: r["est"] for r in direct.collect()}
    assert m == d, "hourly-partial merge diverged from direct daily sketch"


def test_collocation_pmi_hand_computed(spark, tmp_path):
    """PMI on a hand-built corpus: 'x y' always adjacent, 'a' a filler.
    Counts and ln-ratio are verified against the closed form."""
    import math

    import duckdb

    from kafka_flink_harshevents_spark.queries.documents import (
        doc_collocation_pmi,
    )

    (tmp_path / "mini").mkdir()
    out = str(tmp_path / "mini")
    con = duckdb.connect()
    con.execute(f"""
        COPY (
            SELECT * FROM (VALUES
                (0, 'x y a a a', 'en', 's', 9),
                (1, 'a x y a a', 'en', 's', 9),
                (2, 'a a x y a', 'en', 's', 9),
                (3, 'a a a x y', 'en', 's', 9),
                (4, 'x y x y a', 'en', 's', 9)
            ) AS t(doc_id, text, lang, source, n_chars)
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
    """)
    rows = {
        (r["w1"], r["w2"]): r for r in doc_collocation_pmi(spark, out).collect()
    }
    # 20 bigrams total; 'x y' occurs 6 times; c_x = c_y = 6 each of x,y.
    xy = rows[("x", "y")]
    assert xy["c_xy"] == 6
    assert xy["pmi"] == round(math.log((6 / 6) * (20 / 6)), 4)
    # filler-filler pair: c('a a') = 6 adjacencies (2+1+1+2+0 per doc),
    # c_a = 13 occurrences.
    aa = rows[("a", "a")]
    assert aa["c_xy"] == 6
    assert aa["pmi"] == round(math.log((6 / 13) * (20 / 13)), 4)


def test_kn_beats_addone_on_seen_bigrams(spark):
    """Interpolated KN discounts D=0.75 from seen bigrams instead of
    add-one's V-sized smoothing tax, so on a corpus scored under its
    own counts most docs' average logprob must be HIGHER than the
    add-one rung's — the reason KN sits atop the ladder. (Not all:
    docs dominated by rare single-context bigrams can dip below.)"""
    from kafka_flink_harshevents_spark.queries.documents import (
        doc_bigram_logprob,
        doc_kn_logprob,
    )

    bi = {r["doc_id"]: r["avg_logprob"]
          for r in doc_bigram_logprob(spark, SF_DIR).collect()}
    kn = {r["doc_id"]: r["avg_logprob"]
          for r in doc_kn_logprob(spark, SF_DIR).collect()}
    assert set(kn) == set(bi)
    better = sum(1 for d in kn if kn[d] >= bi[d])
    assert better / len(kn) > 0.6, f"KN better on only {better}/{len(kn)}"
    # every score is a finite negative log-probability
    assert all(v < 0 for v in kn.values())


def test_correctness_window_names_resolve():
    """Every name in the driver-window ordering must exist in the
    catalog (a typo would silently drop the entry from the 50-entry
    correctness window), every windowed entry must carry an oracle
    unless it is a designed rows-only entry, and query/oracle key sets
    must line up."""
    from kafka_flink_harshevents_spark.queries import (
        _WINDOW_FIRST,
        all_oracles,
        all_queries,
    )

    from kafka_flink_harshevents_spark.queries import _WINDOW_NEVER

    qs, osql = all_queries(), all_oracles()
    missing = [n for n in _WINDOW_FIRST if n not in qs]
    assert not missing, f"window names not in catalog: {missing}"
    assert len(set(_WINDOW_FIRST)) == len(_WINDOW_FIRST)  # no dups
    rows_only = set(qs) - set(osql)
    assert rows_only <= set(_WINDOW_NEVER), rows_only
    assert set(osql) <= set(qs)  # no orphan oracles
    window = list(qs)[:50]
    assert len(window) == 50
    # the driver records a no-oracle window entry as a RED row (r01,
    # r05) — every entry inside the 50-entry window MUST have an
    # oracle, and the designed rows-only entries must sit at the very
    # END of the catalog, permanently outside any window
    no_oracle_in_window = [n for n in window if n not in osql]
    assert not no_oracle_in_window, no_oracle_in_window
    tail = list(qs)[-len(_WINDOW_NEVER):]
    assert sorted(tail) == sorted(_WINDOW_NEVER), tail


@pytest.mark.slow
def test_lakehouse_entries_survive_vanilla_session_confs(spark):
    """The driver runs catalog entries on its OWN SparkSession, not the
    repo's (`session.py` confs absent) — `q_txlog_datasource_read`
    crashed r05 because the Python-DataSource filter-pushdown conf was
    only set at session build. Emulate the drift by FORCING the conf
    off, then run every lakehouse entry end-to-end: each must
    (re)establish whatever session state it needs."""
    prev = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    try:
        from kafka_flink_harshevents_spark.queries import lakehouse

        for name, fn in lakehouse.QUERIES.items():
            # re-force the drift BEFORE every entry — an earlier entry
            # re-enabling the conf must not mask a later entry that
            # forgot to (the first version of this test did exactly
            # that and would have let the r05 crash ship again)
            spark.conf.set(
                "spark.sql.python.filterPushdown.enabled", "false"
            )
            df = fn(spark, SF_DIR)
            assert df.count() > 0, name
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.python.filterPushdown.enabled", prev
            )
        else:
            # previously unset: unset it again, or whatever the last
            # lakehouse entry left behind leaks into the shared session
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")


def test_temp_dir_removed_at_exit(tmp_path):
    """``queries._util.temp_dir`` — the one temp-directory helper the
    catalog's txlog entries build their tables in — leaves the
    directory in place while the process runs (the returned frames are
    lazy and read it later) and removes it, contents included, when
    the process exits."""
    import os
    import subprocess
    import sys

    code = (
        "import os\n"
        "from kafka_flink_harshevents_spark.queries._util import temp_dir\n"
        "d = temp_dir('txq-')\n"
        "open(os.path.join(d, 'part-0.parquet'), 'w').write('x')\n"
        "assert os.path.isdir(d)\n"
        "print(d)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, check=True, cwd=root,
        env={**os.environ, "TMPDIR": str(tmp_path)},
    ).stdout.strip()
    assert out.startswith(str(tmp_path)) and os.path.basename(out).startswith("txq-")
    assert not os.path.exists(out)
