"""Event-time analytics: windowed aggregation, session windows, and
custom stateful operators — the Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.4: cuGraph has no streaming
operators); a continuously-ingested link graph needs the event-time
layer Spark provides natively. Every transform here is
**stream-batch symmetric**: the same function builds the same logical
plan over a batch DataFrame (where it is verified against a DuckDB SQL
twin by the driver gate — queries ``events_windowed``,
``events_sessions``, ``events_running``) and over a
``spark.readStream`` DataFrame, where ``withWatermark`` bounds state
for late data (tested end-to-end in
``tests/test_streaming_events.py``).

Scale notes (100 TB target):
- ``windowed_event_stats`` is a plain groupBy on (window, event_type):
  map-side partial aggregation, one shuffle keyed by a bounded key set
  — state in streaming mode is O(active windows × types), bounded by
  the watermark, never O(rows).
- ``sessionized_user_stats`` shuffles by user_id (``session_window``
  merges per-key sorted runs); streaming state is O(open sessions)
  and the watermark closes sessions, so state can't grow unboundedly.
- ``running_user_totals`` / ``streaming_hub_detector`` use
  ``applyInPandasWithState`` (Arrow-batched, grouped state): state is
  one tiny tuple per key — O(distinct users) / O(distinct src), i.e.
  O(V) not O(E), the same budget as a PageRank rank vector. Hub
  detection is the streaming feed for the skew plans
  (``plans/skew.py``): hubs crossing the degree threshold are exactly
  the keys the salted common-neighbor join wants enumerated ahead of
  time.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _maybe_watermark(df: DataFrame, ts_col: str, watermark: str | None) -> DataFrame:
    if watermark is not None and df.isStreaming:
        return df.withWatermark(ts_col, watermark)
    return df


def windowed_event_stats(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling (or sliding, with ``slide``) event-time window stats
    per event_type: row count, value sum, and the mean of the ``k``
    field parsed out of the semi-structured ``props`` JSON column.

    Window starts are emitted as epoch microseconds (exact BIGINT —
    portable across engines, no timestamp-format ambiguity).
    """
    df = _maybe_watermark(events, ts_col, watermark)
    w = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        df.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.round(F.sum("value"), 6) + F.lit(0.0)).alias("sum_value"),
            (
                F.round(
                    F.avg(F.get_json_object("props", "$.k").cast("int")), 6
                )
                + F.lit(0.0)
            ).alias("avg_k"),
        )
        .select(
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("w_start_us"),
            "event_type",
            "n_events",
            "sum_value",
            "avg_k",
        )
    )


def sessionized_user_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user session windows (gap-based): a session extends while
    consecutive events arrive within ``gap`` of the last event —
    INCLUSIVE: Spark merges adjacent windows, so an event at exactly
    ``last_ts + gap`` still joins the session (verified in
    ``tests/test_streaming_events.py::test_session_gap_boundary_batch``);
    only a strictly larger gap starts a new one. Emits session
    start/end (``end = last_ts + gap``) as epoch microseconds plus
    event count and value sum per session.
    """
    df = _maybe_watermark(events, ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("s"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.round(F.sum("value"), 6) + F.lit(0.0)).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("s.start").cast("timestamp")).alias("session_start_us"),
            F.unix_micros(F.col("s.end").cast("timestamp")).alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


_RUNNING_OUT_SCHEMA = "user_id bigint, n_events bigint, sum_value double"
_RUNNING_STATE_SCHEMA = "n bigint, s double"


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming custom stateful operator: cumulative per-user event
    count + value sum across micro-batches via
    ``applyInPandasWithState`` (update mode: each batch emits the
    refreshed totals for the users it touched).

    The batch twin of the *final* state is ``groupBy(user_id).agg``;
    the batch twin of the *emission sequence* is the running-sum
    window function (driver query ``events_running``). State is one
    (count, sum) tuple per user — O(distinct users).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        _RUNNING_OUT_SCHEMA,
        _RUNNING_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_hub_detector(
    edges: DataFrame, threshold: int, src_col: str = "src"
) -> DataFrame:
    """Streaming hub detection on an edge stream: maintains cumulative
    out-degree per source vertex and emits ``(vertex, degree)`` the
    first time a vertex's degree EXCEEDS ``threshold`` (exactly once
    per hub) — the same strict-``>`` boundary as the batch scan
    ``plans/skew.py:hub_vertices``, so the streaming hub set converges
    to exactly the set the salted plans would derive from a rescan.

    This is the online feed for the hub-salting plans
    (``plans/skew.py`` detects hubs with a batch degree scan; on a
    continuously-ingested graph this operator keeps the hub set
    current without rescanning E). State per key is a single (degree,
    emitted) pair — O(V); emission is O(new hubs per batch).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "vertex bigint, degree bigint"
    state_schema = "d bigint, emitted boolean"

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        d, emitted = state.get if state.exists else (0, False)
        for pdf in pdfs:
            d += len(pdf)
        fire = bool(d > threshold and not emitted)
        state.update((d, emitted or fire))
        if fire:
            yield pd.DataFrame({"vertex": [key[0]], "degree": [d]})
        else:
            yield pd.DataFrame({"vertex": [], "degree": []}).astype(
                {"vertex": "int64", "degree": "int64"}
            )

    return edges.groupBy(src_col).applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
