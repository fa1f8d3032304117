"""Outbound sinks: the reference's serialize + fan-out path (A9/A10).

``ws_frames`` reproduces the WsEvent wire format
(MessageWebSocketHandler.kt:68-77): ``{type: UPSERT|DELETE, id,
content?}`` with ``content`` null on delete. ``broadcast_frames``
reproduces serialize-once / per-subscriber error isolation
(MessageWebSocketHandler.kt:56-66). Subscribers are plain
``str -> None`` callables; a real socket endpoint ships in
``streaming/websocket.py`` (stdlib RFC 6455 server) — its
``WsHub.broadcast`` plugs in here directly. The raw-frame debug tap
(A16) is the browser page ``streaming/static/debug.html``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ws_frames(routed: DataFrame) -> DataFrame:
    """Routed changes → one JSON text frame per event (A10)."""
    frame = F.to_json(
        F.struct(
            F.when(F.col("is_delete"), F.lit("DELETE")).otherwise(F.lit("UPSERT")).alias("type"),
            F.col("key_id").alias("id"),
            F.when(
                ~F.col("is_delete"),
                F.struct(
                    F.col("after.id").alias("id"),
                    F.date_format("after.create_time", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").alias("createTime"),
                    F.date_format("after.update_time", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").alias("updateTime"),
                    F.col("after.message").alias("message"),
                    F.col("after.username").alias("username"),
                ),
            ).alias("content"),
        ),
        # Jackson serializes WsEvent.content as an explicit null on
        # delete (MessageWebSocketHandler.kt:50-54) — match the frame.
        {"ignoreNullFields": "false"},
    )
    return routed.select(frame.alias("frame"))


def broadcast_frames(
    frames: Iterable[str], subscribers: list[Callable[[str], None]]
) -> list[Exception]:
    """Serialize-once fan-out with per-subscriber error isolation (A9).

    Returns swallowed exceptions (the reference logs and continues —
    MessageWebSocketHandler.kt:60-64)."""
    errors: list[Exception] = []
    for frame in frames:
        for sub in subscribers:
            try:
                sub(frame)
            except Exception as exc:  # one dead subscriber must not stop fan-out
                errors.append(exc)
    return errors
