"""Lenient JSON ingestion (operator P11 / F1 in SURVEY.md §2.3-2.4).

The reference tolerates two wire pathologies at every stage and we must
reproduce both, JVM-side (no Python UDF in the hot ingest path):

1. **Double-encoded JSON** — the whole payload arrives as an escaped JSON
   *string* (``"\\"{...}\\""``). All three reference parsers strip the outer
   quotes and unescape ``\\"`` / ``\\\\`` before parsing
   (``TelematicsViolationDeriverJob.java:192-196``, ``kafkaConsumer.js:61-66``,
   ``mqttToKafka.js:47-52``).
2. **Malformed JSON is dropped**, never dead-lettered
   (``TelematicsViolationDeriverJob.java:111-114``).

Both are expressed as column transforms (no shuffle, no Python), and each
payload is parsed once, inside one ``Generate`` that every downstream
filter sits above.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_flink_harshevents_spark import schemas


def unwrap_double_encoded(value: Column) -> Column:
    """Undo one level of JSON string-encoding when present.

    Matches the reference's unwrap rule exactly: only when the trimmed
    payload both starts and ends with a double-quote, strip the outer
    quotes and unescape ``\\"`` → ``"`` and ``\\\\`` → ``\\``
    (``TelematicsViolationDeriverJob.java:192-196``).
    """
    trimmed = F.trim(value)
    wrapped = trimmed.startswith('"') & trimmed.endswith('"') & (F.length(trimmed) >= F.lit(2))
    inner = F.substring(trimmed, 2, F.length(trimmed) - F.lit(2))
    # Unescape in one regexp pass: a backslash followed by a quote or a
    # backslash becomes the escaped character itself.
    unescaped = F.regexp_replace(inner, r'\\(["\\])', r"$1")
    return F.when(wrapped, unescaped).otherwise(value)


def parse_telemetry(
    df,
    value_col: str = "value",
    schema: T.StructType = schemas.TELEMETRY,
):
    """``Kafka value string -> telemetry columns`` (P11 + F1).

    A PERMISSIVE parse with a corrupt-record column. The drop rule
    reproduces Jackson's FIELD-LEVEL leniency, not Spark's default
    record-level strictness: Jackson coerces field-wise (a string-typed
    ``timestamp`` yields 0 via ``asLong``, a bad element is skipped),
    so the reference still processes records with one drifting field.
    Spark flags such records in ``_corrupt_record`` but DOES parse every
    well-typed field — therefore we drop a record only when it is
    *wholly* unparseable (corrupt marker set AND every schema field
    null); a partially-valid record survives with nulls in the drifted
    fields. Null then behaves exactly like Jackson's 0/absent in every
    downstream guard (``vts > 0``, truthiness validation), so observable
    behavior matches the reference. Works identically on batch and
    streaming DataFrames.
    """
    raw = unwrap_double_encoded(F.col(value_col).cast("string"))
    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    parsed = F.from_json(
        raw,
        with_corrupt,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
    )

    def ok(p: Column) -> Column:
        all_fields_null = reduce(and_, (p[f.name].isNull() for f in schema.fields))
        return p.isNotNull() & ~(p["_corrupt_record"].isNotNull() & all_fields_null)

    # The parse runs inside a generator (explode of a 0-or-1-element
    # array) rather than behind an alias. Predicate pushdown substitutes
    # an alias with its definition, so a filter on an aliased parse — the
    # drop rule here, the derive gates and the consumer's truthiness
    # checks downstream — would copy the whole parse into itself, once
    # per reference. Filters on a generator's output stay above it and
    # read plain columns.
    keep = [c for c in df.columns if c != value_col]
    return (
        df.select(*keep, F.explode(F.filter(F.array(parsed), ok)).alias("parsed"))
        .select(*keep, "parsed.*")
        .drop("_corrupt_record")
    )
