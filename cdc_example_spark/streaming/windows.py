"""Windowed / stateful streaming analytics (SURVEY.md §2.2 Streaming rows).

Every helper takes *either* a batch or a streaming DataFrame and builds
the same declarative plan — that is the engine's batch/stream parity
story: Q18/Q19 run these helpers on the static `events` table, the
S5/S6 suites run them on a replayed stream, and the results must agree.

Watermark notes for 100 TB streams: state size for windowed aggs is
bounded by (watermark horizon / slide) × key cardinality; the RocksDB
state store (session default) keeps it off-heap. Late rows beyond the
watermark are dropped — S5 asserts that contract explicitly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_example_spark.queries.util import dec2


def with_watermark(events: DataFrame, ts_col: str = "ts", delay: str = "10 minutes") -> DataFrame:
    """Watermark if streaming; no-op on batch frames (same plan text)."""
    if events.isStreaming:
        return events.withWatermark(ts_col, delay)
    return events


def tumbling_counts(
    events: DataFrame,
    duration: str = "1 hour",
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window count/avg/sum — the streaming twin of Q18."""
    ev = with_watermark(events, ts_col, watermark)
    return ev.groupBy(F.window(ts_col, duration).alias("w"), *keys).agg(
        F.count(F.lit(1)).alias("num_events"),
        dec2(F.avg("value")).alias("avg_value"),
        dec2(F.sum("value")).alias("sum_value"),
    )


def session_aggregates(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key: str = "user_id",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Gap-based sessions via session_window — the streaming twin of Q19.

    Boundary semantics: an event exactly `gap` after the previous one
    starts a NEW session here (windows [t, t+gap) merge only on strict
    overlap) while Q19's lag-based rule (`gap_us > gap`) keeps it —
    align the batch rule with `>` vs `>=` accordingly; with real
    (μs-precision) data exact-boundary gaps don't occur.
    """
    ev = with_watermark(events, ts_col, watermark)
    return ev.groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), key).agg(
        F.count(F.lit(1)).alias("n_events"),
        dec2(F.avg("value")).alias("avg_value"),
    )


def dedup_within_watermark(
    events: DataFrame,
    id_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """At-least-once → effectively-once: drop redelivered rows whose key
    was already seen within the watermark horizon."""
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(id_cols))
    return events.dropDuplicates(list(id_cols))


def stream_static_enrich(stream: DataFrame, dim: DataFrame, on: Column | str, how: str = "inner") -> DataFrame:
    """Stream–static join (reference A8 analog): the static side is
    (re)broadcast per micro-batch; no state, no watermark needed."""
    return stream.join(F.broadcast(dim), on, how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: Column,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream–stream join with bounded state (S7; batch twin = Q50's
    bucketed range join).

    ``on`` must include an equality on the key AND a two-sided event-time
    constraint (e.g. ``r.ts BETWEEN l.ts AND l.ts + INTERVAL 1 HOUR``):
    Spark derives each side's state-eviction horizon from the watermark
    plus that interval, so state size is (rate × (watermark + interval
    length)) per side, not unbounded. Pre-alias the sides — both carry
    event-time columns. Works identically on batch frames (the
    watermark is a no-op there), which is how the S7 suite proves
    stream == batch."""
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    return l.join(r, on, how)
