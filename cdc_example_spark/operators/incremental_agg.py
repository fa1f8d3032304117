"""Incremental materialized aggregate over the CDC changelog (IVM).

The reference materializes the raw ``messages`` table from its change
stream (A8); the natural next layer — the one every serving stack
builds — is a materialized AGGREGATE kept current by the same stream
without ever re-scanning the base table. This operator maintains
``group_col → (n_rows, sum_val)`` incrementally:

    delta  =  (+1, +val) per upserted row image
            ∪ (−1, −val) per PRE-batch image of every touched key
    state' =  state ⟗ Σ delta   (full-outer merge, zero-count groups
                                  dropped)

Old images come from the base table's pre-merge snapshot (a left-semi
join on the touched keys), NOT from the envelope's ``before`` field:
the reference consumer ignores ``before`` (MessageConsumer.kt:54-56),
and Debezium only populates it under REPLICA IDENTITY FULL — state
lookup works unconditionally.

Exactly-once: delta application is NOT idempotent (re-adding a delta
double-counts — unlike KeyedStateSink's merge, where replay converges).
Versioned state makes redelivery safe anyway: each batch writes a NEW
version directory ``v_{batch_id}`` derived from the CURRENT version,
then flips the ``_current`` marker via atomic rename. A crash anywhere
before the flip leaves the marker on the old version, and redelivery
recomputes ``v_{batch_id}`` from that same old version — the
double-apply is structurally impossible rather than merely unlikely.

Scale: the delta is |touched groups| rows; the merge shuffles
|groups| + |touched groups| rows (never the base table); the semi-join
against the base is bucket-pruned when the base is a KeyedStateSink
(both sides hash the same key). At very high group cardinality,
partition the state dirs by a group-hash bucket exactly like
KeyedStateSink buckets its keys.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from cdc_example_spark.operators.keyed_state import microbatch_conf
from cdc_example_spark.session import local_frame

#: keep this many superseded version dirs for post-crash inspection
_KEEP_VERSIONS = 2

AGG_SCHEMA = StructType(
    [
        StructField("group_key", StringType()),
        StructField("n_rows", LongType()),
        StructField("sum_val", LongType()),
    ]
)


@dataclass
class IncrementalAggSink:
    """Materialized ``group_col → (count, sum)`` maintained from routed
    CDC batches (the same input KeyedStateSink.apply_changes takes).

    ``value_expr_sql`` is evaluated against a row image struct named
    ``img`` (e.g. ``"length(img.message)"``); NULLs count as 0 so a
    row's contribution is always defined.
    """

    path: str
    group_field: str = "username"
    value_expr_sql: str = "length(img.message)"

    # -- version bookkeeping ------------------------------------------------

    def _marker_path(self) -> str:
        return os.path.join(self.path, "_current")

    def current_version(self) -> int | None:
        try:
            with open(self._marker_path()) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return None

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.path, f"v_{version}")

    def snapshot(self, spark: SparkSession) -> DataFrame:
        """Current aggregate state (empty before the first batch)."""
        v = self.current_version()
        if v is None:
            return local_frame(spark, [], AGG_SCHEMA)
        return spark.read.parquet(self._version_dir(v))

    # -- the incremental apply ---------------------------------------------

    def _contrib(self, img_df: DataFrame, sign: int) -> DataFrame:
        """(group_key, n, val) contributions of a set of row images."""
        return img_df.select(
            F.col(f"img.{self.group_field}").alias("group_key"),
            F.lit(sign).cast("long").alias("n"),
            (sign * F.coalesce(F.expr(self.value_expr_sql), F.lit(0)))
            .cast("long")
            .alias("val"),
        )

    def apply_changes(
        self, changes: DataFrame, base_snapshot: DataFrame, batch_id: int
    ) -> None:
        """Fold one routed micro-batch into the aggregate.

        MUST be called with the base table's PRE-merge snapshot (i.e.
        before KeyedStateSink.apply_changes for the same batch) — the
        old-image lookup is against the state the batch is about to
        replace. Batches at or below the current version are skipped
        (exactly-once under foreachBatch redelivery).
        """
        cur = self.current_version()
        if cur is not None and batch_id <= cur:
            return
        with microbatch_conf(changes.sparkSession):
            self._apply_scoped(changes, base_snapshot, batch_id, bootstrap=cur is None)

    def _apply_scoped(
        self, changes: DataFrame, base_snapshot: DataFrame, batch_id: int, bootstrap: bool
    ) -> None:
        # intra-batch collapse, same (lsn, ts_ms) order as the base sink
        w = Window.partitionBy("key_id").orderBy(
            F.col("lsn").desc_nulls_last(), F.col("ts_ms").desc_nulls_last()
        )
        latest = (
            changes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        touched = latest.select(F.col("key_id").alias("id")).distinct()
        old_imgs = base_snapshot.join(touched, "id", "left_semi").select(
            F.struct(*base_snapshot.columns).alias("img")
        )
        new_imgs = latest.filter(~F.col("is_delete")).select(
            F.col("after").alias("img")
        )
        delta = (
            self._contrib(new_imgs, +1)
            .unionAll(self._contrib(old_imgs, -1))
            .groupBy("group_key")
            .agg(F.sum("n").alias("dn"), F.sum("val").alias("dv"))
        )
        if bootstrap:
            # First apply with no committed version: aggregate the FULL
            # pre-batch base snapshot as the starting state (ADVICE r2).
            # A sink attached after the base table already holds history
            # would otherwise fold only future deltas and permanently
            # omit every pre-attachment row. When the base is empty
            # (attached before batch 0) this groupBy is a zero-row
            # no-op, so bootstrap cost is only paid when there is
            # history to recover.
            all_imgs = base_snapshot.select(
                F.struct(*base_snapshot.columns).alias("img")
            )
            state = (
                self._contrib(all_imgs, +1)
                .groupBy("group_key")
                .agg(F.sum("n").alias("n_rows"), F.sum("val").alias("sum_val"))
            )
        else:
            state = self.snapshot(latest.sparkSession)
        # eqNullSafe: the group field is nullable (MESSAGES.username), and
        # a null-unsafe USING join would never match the NULL-keyed state
        # row against a NULL-keyed delta — every batch touching the NULL
        # group would append another duplicate state row (ADVICE r2).
        # coalesce(s.key, d.key) is NULL-correct in all three match cases:
        # when the true key is NULL both columns are NULL.
        s, d = state.alias("s"), delta.alias("d")
        merged = (
            s.join(d, F.col("s.group_key").eqNullSafe(F.col("d.group_key")), "full")
            .select(
                F.coalesce(F.col("s.group_key"), F.col("d.group_key")).alias("group_key"),
                (F.coalesce(F.col("s.n_rows"), F.lit(0)) + F.coalesce(F.col("d.dn"), F.lit(0))).alias("n_rows"),
                (F.coalesce(F.col("s.sum_val"), F.lit(0)) + F.coalesce(F.col("d.dv"), F.lit(0))).alias("sum_val"),
            )
            .filter(F.col("n_rows") > 0)
        )
        # write the NEW version fully, then flip the marker atomically;
        # only after the flip is the old version superseded.
        merged.write.mode("overwrite").parquet(self._version_dir(batch_id))
        tmp = self._marker_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        os.replace(tmp, self._marker_path())
        self._gc(batch_id)

    def _gc(self, current: int) -> None:
        """Best-effort removal of versions older than the last few."""
        try:
            versions = sorted(
                int(n[2:])
                for n in os.listdir(self.path)
                if n.startswith("v_") and n[2:].isdigit()
            )
        except OSError:
            return
        for v in versions[:-_KEEP_VERSIONS]:
            if v < current:
                shutil.rmtree(self._version_dir(v), ignore_errors=True)
