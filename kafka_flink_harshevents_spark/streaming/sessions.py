"""O9 — stateful session consolidation (the reference's one true
stateful operator; SURVEY.md §2.10).

Semantics ported from ``kafkaConsumer.js:278-347`` (Redis pointer with
``EX 300`` + Mongo doc update-in-place):

- ``action="touch"``: active session → extend ``end_timestamp`` and
  refresh the 300 s TTL (kafkaConsumer.js:304-312); none → open a session
  with ``start = end = ts`` (kafkaConsumer.js:322-335).
- ``action="clear"``: the Redis pointer is deleted and the doc keeps its
  last ``end_timestamp`` (kafkaConsumer.js:340-347) — here the session is
  finalized and emitted.
- TTL expiry (Redis ``EX``): session ends by inactivity — here a
  processing-time timeout fires and emits the final row.
- unknown actions are ignored (F8, kafkaConsumer.js:349).

State lives in Spark's StateStore keyed by ``device_uuid`` (RocksDB
provider at scale) instead of an external Redis — the state shuffle on
``device_uuid`` is the only wide operation in the pipeline. The one
backend is ``applyInPandasWithState``, the arbitrary-stateful API every
other stateful operator in ``streaming/`` uses; ``_advance`` is the one
spelling of the touch/extend/clear/TTL machine, and the append- and
update-mode views only format what it returns. The batch twin with
identical output is ``operators.sessions.sessionize_batch``
(lag/gap/cumsum), which the DuckDB oracle can run.

Operational note: with ``ProcessingTimeTimeout`` the micro-batch engine
continuously schedules timer-evaluation batches even when the source is
idle (that is how TTLs fire without new data). Consequently
``StreamingQuery.processAllAvailable()`` never settles on queries built
from this operator — callers should poll ``lastProgress`` instead (see
tests/test_streaming.py::_drain).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_flink_harshevents_spark import schemas
from kafka_flink_harshevents_spark.operators.sessions import SESSION_TTL_SECONDS

_OUT_COLS = [f.name for f in schemas.SESSION_ROW.fields]
_PROGRESS_COLS = [f.name for f in schemas.SESSION_PROGRESS_ROW.fields]
_STATE_SCHEMA = "start_timestamp LONG, end_timestamp LONG, n_touches LONG"

# (start_timestamp, end_timestamp, n_touches)
_Session = tuple[int, int, int]


def _advance(
    pdf_iter: Iterator[pd.DataFrame], state: GroupState, ttl_ms: int
) -> tuple[list[_Session], _Session | None, bool]:
    """Apply one call's input — or its timeout — to a device's state.

    Returns ``(closed, open, touched)``: the sessions finalized by
    ``clear`` or TTL expiry, the session still open afterwards (its TTL
    refreshed, like Redis ``SET ... EX``), and whether a touch reached
    that open session in this call."""
    if state.hasTimedOut:
        closed = []
        if state.exists:
            closed.append(tuple(state.get))
            state.remove()
        return closed, None, False

    events = pd.concat(list(pdf_iter), ignore_index=True)
    events = events.sort_values("timestamp", kind="stable")

    closed: list[_Session] = []
    start, end, n = state.get if state.exists else (None, None, 0)
    touched = False
    for action, ts in zip(events["action"], events["timestamp"]):
        if action == "touch":
            ts = int(ts)
            if start is None:
                start = end = ts
                n = 1
            else:
                end = max(end, ts)
                n += 1
            touched = True
        elif action == "clear" and start is not None:
            closed.append((start, end, n))
            start, end, n = None, None, 0
        # unknown action: log-and-ignore in the reference (F8)

    if start is None:
        if state.exists:
            state.remove()
        return closed, None, False
    session = (int(start), int(end), int(n))
    state.update(session)
    state.setTimeoutDuration(ttl_ms)
    return closed, session, touched


def _final_row(device: str, start: int, end: int, n: int) -> dict[str, Any]:
    return {
        "event_type": "device_status_session",
        "status_type": "cable-unplugged",
        "device_uuid": device,
        "start_timestamp": start,
        "end_timestamp": end,
        # the reference also bumps the doc's `timestamp` to the last touch
        # (kafkaConsumer.js:304-307)
        "timestamp": end,
        "n_touches": n,
    }


def _progress_row(
    device: str, start: int, end: int, n: int, is_open: bool
) -> dict[str, Any]:
    return {**_final_row(device, start, end, n), "is_open": is_open}


def _make_session_fn(ttl_ms: int):
    """Append mode: one row per finalized session."""

    def fn(
        key: tuple[str],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        closed, _, _ = _advance(pdf_iter, state, ttl_ms)
        rows = [_final_row(key[0], *s) for s in closed]
        yield pd.DataFrame(rows, columns=_OUT_COLS)

    return fn


def _make_progress_fn(ttl_ms: int):
    """Update-mode twin of ``_make_session_fn``: after each micro-batch
    that touches a device, emit the CURRENT session doc (start, growing
    end, n_touches, is_open=true) — the observable equivalent of the
    reference consumer's update-in-place Mongo doc
    (kafkaConsumer.js:304-318). clear/TTL emit the final doc with
    is_open=false, identical values to the append-mode operator."""

    def fn(
        key: tuple[str],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        closed, session, touched = _advance(pdf_iter, state, ttl_ms)
        rows = [_progress_row(key[0], *s, False) for s in closed]
        if touched:
            rows.append(_progress_row(key[0], *session, True))
        yield pd.DataFrame(rows, columns=_PROGRESS_COLS)

    return fn


def _apply(status_events: DataFrame, fn, schema, output_mode: str) -> DataFrame:
    """The one stateful plan both views share: ``cable-unplugged`` only
    (F7), keyed by ``device_uuid``, processing-time TTL."""
    touches = status_events.filter(
        F.col("status_type") == "cable-unplugged"
    ).select("device_uuid", "action", "timestamp")
    return touches.groupBy("device_uuid").applyInPandasWithState(
        fn,
        outputStructType=schema,
        stateStructType=_STATE_SCHEMA,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def status_session_progress(
    status_events: DataFrame,
    ttl_seconds: int = SESSION_TTL_SECONDS,
) -> DataFrame:
    """K4-parity in-progress session view: one emission per micro-batch
    per touched device showing the growing session, plus a closing
    emission (is_open=false) on clear/TTL. Run in ``update`` output
    mode; the append-mode ``consolidate_status_sessions`` (final rows
    only) is unchanged and remains the exactly-once history."""
    return _apply(
        status_events,
        _make_progress_fn(ttl_seconds * 1000),
        schemas.SESSION_PROGRESS_ROW,
        "update",
    )


def consolidate_status_sessions(
    status_events: DataFrame,
    ttl_seconds: int = SESSION_TTL_SECONDS,
) -> DataFrame:
    """Streaming session consolidation keyed by ``device_uuid``.

    Input: validated device-status events (``route_device_status``
    shape). Output: one finalized session row per session, emitted on
    ``clear`` or on TTL expiry. Only ``cable-unplugged`` is consolidated
    (F7, kafkaConsumer.js:273-276).
    """
    return _apply(
        status_events,
        _make_session_fn(ttl_seconds * 1000),
        schemas.SESSION_ROW,
        "append",
    )
