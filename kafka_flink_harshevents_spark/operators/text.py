"""Text-dedup kernels: the one definition of every per-row text
expression the dedup family shares, so the batch catalog
(``queries/documents.py``), the streaming operators (``streaming/dedup.py``,
``quality.py``, ``kmv.py``) and the corpus-ingest recipe
(``plans/ingest.py``) cannot drift apart.

Each kernel is a Column or a Spark SQL fragment over a word-array
expression, so one definition serves both evaluation shapes: the batch
explode → groupBy-min signature (``documents._minhash_sigs``) and the
streaming per-row array fold (``dedup._minhash_band_fps``). This module
imports nothing from ``queries/``, ``streaming/`` or ``plans/``; the
DuckDB oracle twins stay in ``queries/documents.py``, independent of
these Spark fragments.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword list for ratio features + language-ID (subset present in the
# synthetic vocabulary; real deployments swap in per-language lists).
STOPWORDS = ("the", "a", "of", "and", "in", "to", "is", "on", "for", "with")

MINHASH_PERMS = 12
LSH_BANDS = 4  # 12 signatures / 4 bands = 3 rows per band
LSH_ROWS = MINHASH_PERMS // LSH_BANDS
LSH_VERIFY_THRESHOLD = 0.3

SPAN_WORDS = 8  # C4-style span width (words) for cross-corpus span dedup

SAMPLE_FIXED_K = 50  # exact per-stratum sample size (batch + reservoir)


def bigrams_sql(ws: str = "ws") -> str:
    """Word bigrams of the word-array expression ``ws``, in order and
    with multiplicity. Callers keep ``size(ws) >= 2``: below that the
    index sequence runs backwards."""
    return (
        f"transform(sequence(0, size({ws}) - 2), "
        f"i -> concat({ws}[i], ' ', {ws}[i + 1]))"
    )


def shingles_sql(ws: str = "ws") -> str:
    """Distinct word-bigram shingles — the Jaccard and MinHash currency
    of the whole dedup family."""
    return f"array_distinct({bigrams_sql(ws)})"


def spans_sql(ws: str = "ws") -> str:
    """Non-overlapping SPAN_WORDS-word chunks of ``ws`` joined by spaces,
    in order; the tail partial chunk is kept."""
    return (
        f"transform(sequence(0, cast(ceil(size({ws}) / {SPAN_WORDS}.0) as int) - 1), "
        f"i -> array_join(slice({ws}, i * {SPAN_WORDS} + 1, {SPAN_WORDS}), ' '))"
    )


def seeded_md5_sql(seed: int) -> str:
    """The MinHash hash family over the shingle column ``s``:
    ``md5('<seed>|' || s)``. md5 is identical in every engine and
    hex-string order is byte order, so signatures match the DuckDB
    oracle bit for bit."""
    return f"md5(concat('{seed}|', s))"


def md5_half_sql(h: str, perm: int) -> str:
    """Permutation ``perm``'s 64-bit value from the md5 hex ``h`` of seed
    ``perm // 2``: each 128-bit md5 yields two permutations, its hex
    halves, so MINHASH_PERMS permutations cost MINHASH_PERMS / 2 hashes."""
    return f"substring({h}, {1 + 16 * (perm % 2)}, 16)"


def band_hash_sql(band: int, mins: Callable[[int], str]) -> str:
    """md5 over band ``band``'s LSH_ROWS signature mins, ``mins(j)``
    naming permutation j's min."""
    rows = ", ".join(mins(band * LSH_ROWS + r) for r in range(LSH_ROWS))
    return f"md5(concat({rows}))"


def band_key_sql(band: int, mins: Callable[[int], str]) -> str:
    """The fingerprint-store band key ``"<band>|<band hash>"``."""
    return f"concat('{band}|', {band_hash_sql(band, mins)})"


def quality_columns() -> tuple[Column, Column]:
    """(score, bucket) Column expressions over a frame with ``text`` —
    the ONE definition of the quality battery, shared by the batch
    entry (`quality_frame`/`doc_quality_score`), the streaming router
    (`streaming/quality.py::with_quality`) and the ingest quality floor,
    so stream and batch scoring can never drift. The expression tree is
    identical in both engines so the doubles match bit-for-bit before
    rounding."""
    ws = F.split("text", " ")
    n_tokens = F.size(ws).cast("long")
    n_unique = F.size(F.array_distinct(ws)).cast("long")
    n_stop = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS))).cast("long")
    score = (
        F.lit(0.4) * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (n_unique / n_tokens)
        + F.lit(0.3) * (F.lit(1.0) - n_stop / n_tokens)
    )
    bucket = (
        F.when(score >= 0.75, F.lit("high"))
        .when(score >= 0.5, F.lit("medium"))
        .otherwise(F.lit("low"))
    )
    return score, bucket


def round_score(score: Column) -> Column:
    """The quality score at 4 dp, rounded the way DuckDB's
    ``round(score, 4)`` rounds: half away from zero on the binary
    product ``score·10⁴``. Spark's ``round(score, 4)`` rounds the
    double's shortest decimal string instead, so a score that lands
    exactly on a 4-dp half splits the engines (0.59825 → 0.5983 in
    Spark, 0.5982 in DuckDB, whose product is 5982.4999…)."""
    return F.round(score * F.lit(10000.0), 0) / F.lit(10000.0)


def _nibble_val(ch: Column) -> Column:
    """Hex char → 0..15 with pure arithmetic (md5 output is lowercase)."""
    a = F.ascii(ch)
    return F.when(a <= 57, a - 48).otherwise(a - 87)


def _md5_unit(col: Column, salt: str) -> Column:
    """Deterministic uniform in [0, 1) from the first 8 md5 nibbles —
    portable to DuckDB (pure ascii arithmetic, no engine hash builtin,
    unlike xxhash64) and stable under retries/partition moves, unlike
    F.rand."""
    h = F.md5(F.concat(F.lit(salt), col.cast("string")))
    val = None
    for i in range(8):
        nib = _nibble_val(F.substring(h, i + 1, 1)).cast("long")
        term = nib * (16 ** (7 - i))
        val = term if val is None else val + term
    return val / F.lit(float(2**32))
