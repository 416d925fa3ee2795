"""Shared helpers for the query catalog."""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Every driver-generated parquet table (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def temp_dir(prefix: str) -> str:
    """A fresh ``tempfile.mkdtemp`` directory that is removed when the
    interpreter exits. Entries that build txlog tables return LAZY
    frames which read the table after the entry returns, so the
    removal cannot happen sooner; ``atexit`` runs it at process end
    (``ignore_errors``: the directory may already be gone)."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def spread(df: DataFrame) -> DataFrame:
    """Parallelism guard for CPU-heavy per-row pipelines (shingling,
    per-row md5 signatures, vector arithmetic): a small corpus arrives
    as a single parquet file → ONE scan partition, serializing
    everything up to the first exchange on one core. Spread to the
    cluster's parallelism when the scan is narrower; at 100 TB the scan
    already has ≥ parallelism partitions and this is a no-op (no
    shuffle inserted)."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table.

    ``events.parquet`` stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark 4 refuses to map to TimestampType. We read it as a nanos long
    (legacy conf, safe to set at runtime) and normalize to a microsecond
    TimestampType column, truncating exactly like DuckDB's ns→ms/us
    conversions so oracle comparisons agree.

    Parallelism note: ``load`` returns the RAW scan. CPU-heavy per-row
    pipelines (shingling, signatures, vector kernels) opt into
    :func:`spread` at their own call sites — an unconditional spread
    here taxed every cheap query whose first op is already a shuffle or
    a trivial agg with a pointless exchange (measured r03:
    `doc_exact_dedup` 0.19→0.51 s, `emb_centroids` 0.22→0.81 s,
    `mm_*` ~1.8×).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Split modulus for the hi/lo deterministic sum. Power of two so the
# (q - lo) / M division is EXACT in IEEE double for EVERY long q:
# q - lo is m·2^20 with |m| ≤ 2^43 (≤ 53 significant bits → exact as a
# double), and dividing by 2^20 only adjusts the exponent.
_M = 1_048_576  # 2^20


def _hilo_total(q: F.Column) -> F.Column:
    """Exact integer total of per-row quantized longs, overflow-safe.

    ``sum(long)`` alone would wrap: at 100 TB a single group can hold
    ~6·10^11 rows and the quantized values reach ~10^11, putting the
    true sum near 10^22 ≫ 2^63. Splitting each q into
    ``lo = pmod(q, 2^20) ∈ [0, 2^20)`` and ``hi = (q - lo)/2^20`` keeps
    both partial sums inside long (|sum(lo)| ≤ n·2^20 and
    |sum(hi)| ≤ n·max|q|/2^20 — safe while n·max|x|·10^(frac-6) ≤ 9·10^18,
    an 80× margin over 100 TB of prices) and recombines ONCE per group
    in DECIMAL(38,0), where overflow is impossible. Every per-row op is
    long arithmetic inside whole-stage codegen — ~4-5× faster than the
    BigDecimal-backed DECIMAL(30) sum this replaces (Q1 agg: 2.7 s →
    0.6 s at sf0.1).
    """
    lo = F.pmod(q, F.lit(_M))
    hi = ((q - lo) / F.lit(_M)).cast("long")
    # DECIMAL(27,0) intermediates: wide enough for any long sum
    # (≤ 19 digits), narrow enough that ·2^20 + lo stays ≤ width 38 in
    # BOTH dialects (the SQL twin must parse under Spark SQL and DuckDB;
    # DuckDB would width-overflow a DECIMAL(38,0) product to DOUBLE and
    # lose exactness).
    return F.sum(hi).cast("decimal(27,0)") * _M + F.sum(lo).cast("decimal(27,0)")


def _quantize(c: F.Column, frac: int) -> F.Column:
    """Deterministic double→long quantization: round(x·10^frac).

    Both engines compute the identical IEEE product x·10^frac and round
    it at integer scale. The only rounding-mode divergence would need
    the product to sit EXACTLY on n+0.5 — there both Spark (HALF_UP on
    the shortest decimal repr) and DuckDB (half away from zero on the
    binary value) round away from zero, and a shortest repr can never
    cross the .5 boundary relative to its binary value (it must
    round-trip), so the engines agree on every input.
    """
    return F.round(c * F.lit(float(10**frac))).cast("long")


def det_sum(col: str | F.Column, dp: int = 2, frac: int = 6) -> F.Column:
    """Order-independent rounded sum of a double expression.

    Plain ``sum(double)`` depends on partial-aggregation combine order:
    with 32-way parallelism the final ULP can land on either side of a
    ``round()`` boundary run-to-run (the CORRECTNESS_r02
    ``ev_props_variant`` flake). Quantizing each row to an exact long
    (x·10^frac) and summing integers makes the aggregate associative /
    commutative — bit-identical under any partitioning and in any
    engine; the hi/lo split (see :func:`_hilo_total`) keeps the integer
    sums overflow-safe at 100 TB while staying in long-typed
    whole-stage codegen. The trailing CAST→DOUBLE, the /10^frac and the
    final round are each single deterministic IEEE ops, and no double
    quotient can sit exactly on a 5·10^-(dp+1) boundary (odd/(2·10^dp)
    is never dyadic), so the round has no ties. ``det_sum_sql`` builds
    the identical DuckDB tree.
    """
    c = F.col(col) if isinstance(col, str) else col
    tot = _hilo_total(_quantize(c, frac))
    # + 0.0 normalizes IEEE signed zero: DuckDB's round can emit -0.0
    # where Spark's BigDecimal path emits +0.0 (hash-relevant)
    return F.round(tot.cast("double") / F.lit(float(10**frac)), dp) + F.lit(0.0)


def _hilo_total_sql(expr: str, frac: int) -> str:
    """DuckDB twin of :func:`_hilo_total` ∘ :func:`_quantize`."""
    q = f"CAST(round(({expr}) * {float(10 ** frac)}) AS BIGINT)"
    lo = f"(((({q}) % {_M}) + {_M}) % {_M})"
    hi = f"CAST(((({q}) - {lo}) / {_M}) AS BIGINT)"
    # This string must parse in BOTH DuckDB (oracle) and Spark SQL (the
    # SQL-surface parity suite runs the oracle text verbatim), so no
    # HUGEINT: DECIMAL(27,0) sums recombine exactly in a DECIMAL(≤38,0)
    # in both dialects.
    return (
        f"(CAST(sum({hi}) AS DECIMAL(27,0)) * {_M}"
        f" + CAST(sum({lo}) AS DECIMAL(27,0)))"
    )


def det_sum_sql(expr: str, dp: int = 2, frac: int = 6) -> str:
    """DuckDB twin of :func:`det_sum` — identical expression tree."""
    return (
        f"(round(CAST({_hilo_total_sql(expr, frac)} AS DOUBLE)"
        f" / {float(10 ** frac)}, {dp}) + 0.0)"
    )


def det_total(col: str | F.Column, frac: int = 6) -> F.Column:
    """Exact order-independent total of round(x·10^frac) as DECIMAL —
    the RAW (unrounded, still-scaled) building block behind
    :func:`det_sum`, for call sites that need the exact total itself:
    ratio numerators/denominators (one double division at emit) and
    exact max/equality picks. Per-row work is pure long arithmetic in
    whole-stage codegen — the replacement for ``sum(cast(decimal(30)))``
    hot paths (same class as the r03 ``doc_unigram_logprob`` fix).
    ``det_total_sql`` is the DuckDB twin.
    """
    c = F.col(col) if isinstance(col, str) else col
    return _hilo_total(_quantize(c, frac))


def det_total_sql(expr: str, frac: int = 6) -> str:
    """DuckDB twin of :func:`det_total` — identical expression tree."""
    return _hilo_total_sql(expr, frac)


def det_sum_over(col, window, dp: int = 2, frac: int = 6) -> F.Column:
    """Order-independent rounded sum over a WINDOW frame — the
    :func:`det_sum` construction with each hi/lo partial summed
    ``.over(window)``: frame membership is set by the frame bounds,
    but tie order within a RANGE frame (and the combine order of the
    window aggregate's buffer) must not move the emitted value. Per-row
    work is long arithmetic; the decimal recombination happens once per
    output row."""
    c = F.col(col) if isinstance(col, str) else col
    q = _quantize(c, frac)
    lo = F.pmod(q, F.lit(_M))
    hi = ((q - lo) / F.lit(_M)).cast("long")
    tot = (
        F.sum(hi).over(window).cast("decimal(27,0)") * _M
        + F.sum(lo).over(window).cast("decimal(27,0)")
    )
    return F.round(tot.cast("double") / F.lit(float(10**frac)), dp) + F.lit(0.0)


def det_sum_over_sql(expr: str, over: str, dp: int = 2, frac: int = 6) -> str:
    """DuckDB twin of :func:`det_sum_over`; ``over`` is the full
    ``OVER (...)`` clause text (or a named-window reference)."""
    q = f"CAST(round(({expr}) * {float(10 ** frac)}) AS BIGINT)"
    lo = f"(((({q}) % {_M}) + {_M}) % {_M})"
    hi = f"CAST(((({q}) - {lo}) / {_M}) AS BIGINT)"
    tot = (
        f"(CAST(sum({hi}) {over} AS DECIMAL(27,0)) * {_M}"
        f" + CAST(sum({lo}) {over} AS DECIMAL(27,0)))"
    )
    return f"(round(CAST({tot} AS DOUBLE) / {float(10 ** frac)}, {dp}) + 0.0)"


def det_avg(col: str | F.Column, dp: int = 4, frac: int = 6) -> F.Column:
    """Order-independent rounded average — see :func:`det_sum`.

    Built as exact-integer-sum / count so the only double ops are one
    cast and two divisions, all deterministic; ``avg(double)`` would
    re-introduce combine-order noise.
    """
    c = F.col(col) if isinstance(col, str) else col
    tot = _hilo_total(_quantize(c, frac))
    return F.round(
        tot.cast("double") / F.lit(float(10**frac)) / F.count(c), dp
    ) + F.lit(0.0)


def det_avg_sql(expr: str, dp: int = 4, frac: int = 6) -> str:
    """DuckDB twin of :func:`det_avg` — identical expression tree."""
    return (
        f"(round(CAST({_hilo_total_sql(expr, frac)} AS DOUBLE)"
        f" / {float(10 ** frac)} / count({expr}), {dp}) + 0.0)"
    )


def ts_millis(col: str) -> F.Column:
    """Timestamp column → epoch milliseconds as long.

    The session timezone is pinned UTC (session.py), so TIMESTAMP and
    TIMESTAMP_NTZ inputs both match DuckDB's ``epoch_ms`` on naive
    timestamps.
    """
    return F.unix_millis(F.col(col).cast("timestamp"))


def hex8_int_sql(col_expr: str) -> str:
    """DuckDB/ANSI SQL: first 8 hex chars of a hash-string expression →
    BIGINT, pure ascii arithmetic (no engine hex builtin). Shared by the
    md5-unit sampler twins (`documents._md5_unit_sql`) and the KMV
    sketch oracle; the Spark side spells the same integer as
    ``conv(substring(h, 1, 8), 16, 10)``."""
    terms = []
    for i in range(8):
        c = f"ascii(substr({col_expr}, {i + 1}, 1))"
        v = f"(CASE WHEN {c} <= 57 THEN {c} - 48 ELSE {c} - 87 END)"
        terms.append(f"CAST({v} AS BIGINT) * {16 ** (7 - i)}")
    return f"({' + '.join(terms)})"
