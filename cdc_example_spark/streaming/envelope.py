"""Debezium envelope decode + routing — the reference's A3–A6 steps.

Reference semantics reproduced here (SURVEY.md §2.1):

- A3 deserialize: JSON key/value → typed columns via ``from_json`` with
  the *declared* schema (never inferred) — reference
  ``MessageConsumer.kt:29-33``, DTOs ``:54-70``.
- A4 projection: the consumer deliberately uses only the ``after``
  image (``DebeziumWrapper`` models just that field,
  ``MessageConsumer.kt:54-56``); we keep ``source.lsn``/``ts_ms`` too
  because Spark must restore per-key order after shuffles (the Kotlin
  consumer gets it free from Kafka partition order).
- A5 routing: delete iff ``after IS NULL`` (``MessageConsumer.kt:31-38``)
  — NOT by the ``op`` code; the row key comes from the Kafka KEY, not
  the value (``MessageConsumer.kt:33``), so deletes are self-contained.

Everything is a pure Column expression — the CDC hot path never leaves
the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cdc_example_spark.schemas import CDC_ENVELOPE, CDC_KEY, MESSAGES, _SOURCE


def wire_image_schema(table_schema: StructType) -> StructType:
    """The row image as Debezium puts it on the wire: every
    TimestampType column becomes an ISO-8601 STRING (ZonedTimestamp,
    reference prototype/message.md:17,22); other columns keep their
    declared type. ``wire_image_schema(MESSAGES)`` is exactly the
    historical ``_ROW_IMAGE``."""
    return StructType(
        [
            StructField(
                f.name,
                StringType()
                if isinstance(f.dataType, TimestampType)
                else f.dataType,
            )
            for f in table_schema.fields
        ]
    )


def cdc_envelope_for(table_schema: StructType) -> StructType:
    """Debezium change-event value schema for an arbitrary table (S14:
    a real second table has DIFFERENT columns, so each topic needs its
    own envelope — Debezium emits a distinct ``after`` schema per
    topic). Envelope framing (source/op/ts_*) is table-independent."""
    img = wire_image_schema(table_schema)
    return StructType(
        [
            StructField("before", img),
            StructField("after", img),
            StructField("source", _SOURCE),
            StructField("transaction", StringType()),
            StructField("op", StringType()),
            StructField("ts", StringType()),
            StructField("ts_ms", LongType()),
            StructField("ts_us", LongType()),
            StructField("ts_ns", LongType()),
        ]
    )


def _typed_image(img: Column, table_schema: StructType = MESSAGES) -> Column:
    """Cast the string timestamps of a row image to TimestampType."""
    return F.when(
        img.isNotNull(),
        F.struct(
            *[
                (
                    F.to_timestamp(img[f.name])
                    if isinstance(f.dataType, TimestampType)
                    else img[f.name].cast(f.dataType)
                ).alias(f.name)
                for f in table_schema.fields
            ]
        ),
    )


def decode_envelope(
    raw: DataFrame,
    key_col: str = "key",
    value_col: str = "value",
    topic_col: "str | None" = None,
    row_schema: "StructType | None" = None,
    key_field: str = "id",
) -> DataFrame:
    """Kafka-shaped (key, value) records → typed change rows.

    Output columns:
      key_id        row key from the Kafka KEY (delete-safe)
      before, after typed row images (nullable structs)
      op            'i'|'u'|'d' (kept for lineage; routing ignores it)
      lsn, ts_ms    change ordering (source.lsn primary, envelope ts_ms
                    tiebreak) — per-key order restoration after shuffle
      topic         (only when ``topic_col`` is given) the source topic,
                    carried for multi-table routing — Debezium emits one
                    topic per table (setup-debezium.sh:22-27
                    topic.prefix semantics)

    ``row_schema`` (S14, VERDICT r9 item 3): the TABLE's typed schema
    for heterogeneous multi-table feeds — the envelope/image schemas
    are derived per table via :func:`cdc_envelope_for`, and the Kafka
    key parses as ``{key_field: string}``. ``None`` keeps the
    reference messages envelope (the pre-built ``CDC_ENVELOPE``).
    """
    if row_schema is None or row_schema == MESSAGES:
        key_schema, env_schema, table_schema = CDC_KEY, CDC_ENVELOPE, MESSAGES
    else:
        key_schema = StructType([StructField(key_field, StringType())])
        env_schema = cdc_envelope_for(row_schema)
        table_schema = row_schema
    key = F.from_json(F.col(key_col).cast("string"), key_schema)
    val = F.from_json(F.col(value_col).cast("string"), env_schema)
    # Parse ONCE per record: referencing `val[...]` from each output
    # column would re-run from_json per reference (schema pruning makes
    # the parses non-identical, so codegen CSE can't dedup them — ~6×
    # the decode cost, measured). The single-element explode places the
    # parse in a Generate node that downstream projections can only
    # reference, not inline. Works identically in batch and streaming.
    fields = [key.alias("k"), val.alias("v")]
    if topic_col is not None:
        fields.append(F.col(topic_col).cast("string").alias("t"))
    parsed = raw.select(F.explode(F.array(F.struct(*fields))).alias("_p"))
    k, v = F.col("_p.k"), F.col("_p.v")
    out = [
        k[key_field].alias("key_id"),
        _typed_image(v["before"], table_schema).alias("before"),
        _typed_image(v["after"], table_schema).alias("after"),
        v["op"].alias("op"),
        v["source"]["lsn"].alias("lsn"),
        v["ts_ms"].alias("ts_ms"),
    ]
    if topic_col is not None:
        out.append(F.col("_p.t").alias("topic"))
    return parsed.select(*out)


def route_changes(decoded: DataFrame) -> DataFrame:
    """A5/A6: annotate each change as upsert or delete.

    ``is_delete = after IS NULL`` (MessageConsumer.kt:31-38). The
    output keeps one row per change with the full after image for
    upserts — the two event variants (MessageUpsertEvent /
    MessageDeleteEvent) as one sum-type column set, which downstream
    operators consume without a branch boundary.

    Records whose KEY failed to parse (``from_json`` → NULL) are
    DROPPED here: a change without a key is unroutable — it cannot
    address any materialized row. The reference consumer would throw
    on the same input (``MessageConsumer.kt:33`` dereferences the
    parsed key unconditionally); dropping at the routing boundary is
    the per-row-tolerance version of that contract, and it protects
    the merge invariants downstream (r5 review: a NULL key would
    satisfy the per-key winner test once per NULL ROW under the fused
    compaction's lag comparison, and r4's anti-join — null-unsafe —
    appended a fresh NULL-key state row every batch).
    """
    cols = [
        "key_id",
        F.col("after").isNull().alias("is_delete"),
        "after",
        "lsn",
        "ts_ms",
    ]
    if "topic" in decoded.columns:
        # multi-table routing: the topic rides along so one stream can
        # fan out to per-table sinks (materialize_tables)
        cols.append("topic")
    return decoded.filter(F.col("key_id").isNotNull()).select(*cols)
