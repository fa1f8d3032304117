"""CDC → ANN index freshness: keep an IVF2 index current under a
changelog (VERDICT r9 item 7).

``operators/similarity.ivf2_upsert`` covers the nightly append; this
module wires the STREAMING half — an embeddings CDC feed materializes
into a KeyedStateSink (the queryable table of record) AND folds into
the persisted ``build_ivf2_index`` layout inside the same foreachBatch,
so similarity serving never waits for an offline rebuild.

Semantics beyond the append-only upsert (the CDC cases):

- UPDATE: the new embedding may land in a DIFFERENT (coarse, fine)
  cell than the old one. The old version's cell comes from the
  envelope's BEFORE image (Debezium REPLICA IDENTITY FULL — the same
  image the reference replays; without it the stale version would
  linger in its old cell until the next retrain/rebuild).
- DELETE: the tombstone's before image addresses the cell to purge.
- Batch collapse: the per-key LSN winner supplies the VALUE that
  lands in the index (the sink's LWW discipline applied before any
  file I/O), but the purge scope is the cells of ALL images in the
  batch — a chained in-batch update (cell1 → cell2 → cell3 across
  two events) must read back cell1 even though the winner's before
  image only addresses cell2, or a stale copy survives there.

Scale shape (the keyed_state bucket discipline applied to the ANN
lake): touched cells = cells(after images) ∪ cells(before images) —
bounded by the batch, never the corpus; only those cell directories are
read back, batch keys are dropped from the read-back (which makes the
merge IDEMPOTENT — a crash-redelivered batch converges to the same
files), and dynamic partition overwrite rewrites only the touched
directories. A persisted batch-id marker short-circuits redelivery to
a metadata no-op, same as KeyedStateSink.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_example_spark.operators.keyed_state import KeyedStateSink, microbatch_conf
from cdc_example_spark.session import local_frame
from cdc_example_spark.streaming.envelope import decode_envelope, route_changes


def _marker_path(index_path: str) -> str:
    return os.path.join(index_path, "_applied_batch_id")


def index_last_applied_batch_id(index_path: str) -> "int | None":
    try:
        with open(_marker_path(index_path)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def _record_index_batch_id(index_path: str, batch_id: int) -> None:
    tmp = _marker_path(index_path) + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(batch_id))
    os.replace(tmp, _marker_path(index_path))


def ivf2_apply_cdc(
    decoded: DataFrame,
    coarse: "list[list[float]]",
    fines: "list[list[list[float]]]",
    index_path: str,
    vec_field: str = "embedding",
    batch_id: "int | None" = None,
) -> "list[tuple[int, int]]":
    """MERGE one micro-batch of DECODED embedding changes into a
    ``build_ivf2_index`` layout. Returns the touched (coarse, fine)
    cells ([] on the marker no-op or an effectively-empty batch).

    ``decoded`` is ``decode_envelope`` output (key_id, before, after,
    lsn, ts_ms) — the PRE-routing shape, because the before image is
    what addresses an update's/delete's old cell. Assignment uses the
    same BLAS kernel as the build; the index stores (vec_id, v) rows
    under coarse=/fine= directories, vec_id = the CDC key.
    """
    from cdc_example_spark.operators.similarity import assign_cells2_vectorized

    spark = decoded.sparkSession
    # The survivor-cell Observation encodes cells as coarse*1e6 + fine
    # — only injective while every fine ordinal stays under 1_000_000;
    # past that, a decoded survivor lands on the WRONG cell and the
    # cleanup rmtree's a LIVE directory instead of failing loudly
    # (ADVICE r12). Refuse the shape up front: driver-side,
    # O(n_coarse), before any job or centroid broadcast touches the
    # oversized list.
    _max_fine = max((len(cell) for cell in fines), default=0)
    if _max_fine > 1_000_000 or len(coarse) < 1:
        raise ValueError(
            "ivf2_apply_cdc: layout shape breaks the survivor-cell "
            f"encoding — {_max_fine} fine centroids in one cell "
            f"(limit 1_000_000) / {len(coarse)} coarse centroids "
            "(need >= 1)"
        )
    if batch_id is not None:
        last = index_last_applied_batch_id(index_path)
        if last is not None and batch_id <= last:
            return []
    with microbatch_conf(spark):
        # per-key LSN winner (the sink's LWW rule): only the final
        # image of a key within the batch touches the index
        w = Window.partitionBy("key_id").orderBy(
            F.col("lsn").desc_nulls_last(), F.col("ts_ms").desc_nulls_last()
        )
        winners = (
            decoded.filter(F.col("key_id").isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "key_id",
                F.col(f"after.{vec_field}").alias("new_v"),
            )
        )
        cells = assign_cells2_vectorized(coarse, fines)
        # the Arrow kernel evaluates on EVERY row regardless of the
        # surrounding when() (ArrowEvalPython extracts UDF inputs
        # unconditionally) — feed nulls a zero vector and mask after
        dim = len(coarse[0])
        zero = F.array(*[F.lit(0.0)] * dim)

        def _safe_cells(col: str):
            return F.when(
                F.col(col).isNotNull(), cells(F.coalesce(F.col(col), zero))
            )

        assigned = winners.select(
            "key_id",
            "new_v",
            _safe_cells("new_v").alias("nc"),
        ).localCheckpoint(eager=True)  # pin assignments

        # Purge scope: the cells of EVERY image in the batch, not just
        # the winner's. A chained in-batch update leaves its first
        # version in a cell only an intermediate event's image
        # addresses; the read-back's key-drop purges it iff that cell
        # is listed here. Bounded by 2× batch rows, never the corpus.
        imgs = (
            decoded.filter(F.col("key_id").isNotNull())
            .select(
                F.explode(
                    F.array(
                        F.col(f"before.{vec_field}"),
                        F.col(f"after.{vec_field}"),
                    )
                ).alias("img")
            )
            .filter(F.col("img").isNotNull())
        )
        pairs = {
            (int(r.c), int(r.f))
            for r in imgs.select(cells(F.col("img")).alias("cc"))
            .select(
                F.col("cc.coarse").alias("c"), F.col("cc.fine").alias("f")
            )
            .distinct()
            .collect()
        }
        touched = sorted(pairs)
        if not touched:
            if batch_id is not None:
                _record_index_batch_id(index_path, batch_id)
            return []
        # SCOPED read-back (the keyed_state bucket discipline): list
        # only the touched cell directories with a pinned schema —
        # untouched cells are never stat'ed, no root partition
        # discovery, no footer schema inference
        idx_schema = (
            "vec_id string, v array<double>, coarse int, fine int"
        )
        dirs = [
            d
            for c, f in touched
            if os.path.isdir(
                d := os.path.join(index_path, f"coarse={c}", f"fine={f}")
            )
        ]
        if dirs:
            current = (
                spark.read.schema(idx_schema)
                .option("basePath", index_path)
                .parquet(*dirs)
                .select("vec_id", "v", "coarse", "fine")
            )
        else:
            current = local_frame(spark, [], idx_schema)
        # drop every batch key from the read-back (update/delete purge +
        # idempotent redelivery), then add the surviving new images
        keys = assigned.select(F.col("key_id").alias("vec_id"))
        kept = current.join(F.broadcast(keys), on="vec_id", how="left_anti")
        incoming = assigned.filter(F.col("new_v").isNotNull()).select(
            F.col("key_id").alias("vec_id"),
            F.col("new_v").alias("v"),
            F.col("nc.coarse").cast("int").alias("coarse"),
            F.col("nc.fine").cast("int").alias("fine"),
        )
        # The surviving-cell set rides the eager localCheckpoint's own
        # materialization as an Observation (the keyed_state
        # _overwrite_touched free-metric discipline) — no separate
        # distinct job; cells are int-encoded because metric values
        # must be scalars (injectivity of the encoding is guarded at
        # the top of this function — ADVICE r12).
        from pyspark.sql import Observation

        surv_obs = Observation()
        merged = (
            kept.unionByName(incoming)
            .observe(
                surv_obs,
                F.collect_set(
                    F.col("coarse").cast("long") * F.lit(1_000_000)
                    + F.col("fine").cast("long")
                ).alias("cells"),
            )
            .localCheckpoint(eager=True)
        )  # materialize BEFORE overwriting what it reads
        (
            merged.repartition(F.col("coarse"), F.col("fine"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("coarse", "fine")
            .parquet(index_path)
        )
        # Dynamic partition overwrite rewrites only partitions that
        # have rows in `merged` — a touched cell whose read-back
        # emptied out (delete of its sole occupant, or the sharded
        # move-out pure purge) would keep serving its stale file
        # forever (ADVICE r11, medium). Clear those directories
        # explicitly. Same elision caveat as keyed_state: a
        # statically/runtime-empty plan never fires the metric, and
        # the cell-bounded distinct re-plan is the safe fallback.
        try:
            survivors = {
                (int(v // 1_000_000), int(v % 1_000_000))
                for v in surv_obs.get["cells"]
            }
        except Exception:
            survivors = {
                (int(r.coarse), int(r.fine))
                for r in merged.select("coarse", "fine").distinct().collect()
            }
        for c, fn in touched:
            if (c, fn) in survivors:
                continue
            d = os.path.join(index_path, f"coarse={c}", f"fine={fn}")
            if os.path.isdir(d):
                shutil.rmtree(d)
        if batch_id is not None:
            _record_index_batch_id(index_path, batch_id)
    return touched


def sharded_ivf2_apply_cdc(
    decoded: DataFrame,
    shards: "list[tuple[str, list[list[float]], list[list[list[float]]]]]",
    route,
    vec_field: str = "embedding",
    batch_id: "int | None" = None,
) -> "dict[int, list[tuple[int, int]]]":
    """MERGE one micro-batch into PER-SHARD IVF2 indexes — the
    past-~4M-vectors tier (``sharded_ivf2_topk``'s layout) kept fresh
    under CDC, including keys that MOVE SHARDS on update.

    ``shards`` is ``sharded_ivf2_topk``'s [(index_path, coarse, fines),
    ...]; ``route`` maps an image struct Column to its shard ordinal
    (e.g. a tenant/language routing attribute carried in the row — the
    case where an update can legitimately change a key's shard; pure
    key-hash sharding never moves and degenerates to N independent
    S15s). Per shard, events are masked to the images that live there —
    before if route(before) = s, after if route(after) = s — and the
    masked view feeds :func:`ivf2_apply_cdc` unchanged:

    - in-place update: both images in s → normal cell-moving merge;
    - shard-crossing update: the old shard sees (before, NULL) — a
      pure purge — and the new shard sees (NULL, after) — an insert;
    - delete: the before image's shard purges; nothing routes anywhere
      else;
    - chained in-batch moves: ALL events route (not just the per-key
      winner), so every intermediate shard/cell an image addressed is
      read back and purged; each shard's own LWW pass then picks the
      value that lands (the ivf2_apply_cdc purge-scope rule, lifted
      across shards).

    Idempotence is per shard: each index path keeps its own applied-
    batch marker, so a crash between shard commits redelivers the
    batch as a marker no-op on committed shards and a normal merge on
    the rest (the materialize_tables exactly-once composition).
    Returns {shard_ordinal: touched cells}.

    Cost shape (VERDICT r11 item 4 — the materialize_tables
    topic-listing discipline): ONE tiny distinct job per batch lists
    the shard ordinals any image actually routes to; shards with no
    routed images pay a marker write and zero Spark jobs. At S shards
    with sparse batches the per-batch cost is O(touched shards), not
    O(S). The same job is the route-coverage guard (ADVICE r11): a
    non-null image whose route evaluates to NULL or to an ordinal
    outside [0, S) would otherwise be masked out of EVERY shard — the
    vector silently vanishing from all indexes — so that case raises
    instead of dropping.
    """
    base = decoded.filter(F.col("key_id").isNotNull())
    n_shards = len(shards)
    routed = (
        base.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("before").isNotNull().alias("nn"),
                        route(F.col("before")).alias("ord"),
                    ),
                    F.struct(
                        F.col("after").isNotNull().alias("nn"),
                        route(F.col("after")).alias("ord"),
                    ),
                )
            ).alias("img")
        )
        .filter(F.col("img.nn"))
        .select(F.col("img.ord").cast("long").alias("ord"))
        .distinct()
        .collect()
    )  # ≤ S+1 rows by construction — never the corpus
    touched_ords: "set[int]" = set()
    for r in routed:
        if r.ord is None or not (0 <= int(r.ord) < n_shards):
            raise ValueError(
                "sharded_ivf2_apply_cdc: a non-null image routes to "
                f"{r.ord!r}, outside the {n_shards}-shard layout — the "
                "routing attribute is null/invalid and the vector would "
                "silently vanish from every index"
            )
        touched_ords.add(int(r.ord))
    out: "dict[int, list[tuple[int, int]]]" = {}
    for s, (path, coarse, fines) in enumerate(shards):
        if s not in touched_ords:
            # marker-only commit: keep the per-shard exactly-once
            # bookkeeping without running the shard's winner-window /
            # cell jobs — an untouched shard costs zero Spark work.
            if batch_id is not None:
                last = index_last_applied_batch_id(path)
                if last is None or batch_id > last:
                    _record_index_batch_id(path, batch_id)
            out[s] = []
            continue
        before_s = F.when(
            F.col("before").isNotNull() & (route(F.col("before")) == s),
            F.col("before"),
        )
        after_s = F.when(
            F.col("after").isNotNull() & (route(F.col("after")) == s),
            F.col("after"),
        )
        sub = base.select(
            "key_id",
            before_s.alias("before"),
            after_s.alias("after"),
            "lsn",
            "ts_ms",
        ).filter(F.col("before").isNotNull() | F.col("after").isNotNull())
        out[s] = ivf2_apply_cdc(
            sub, coarse, fines, path, vec_field=vec_field, batch_id=batch_id
        )
    return out


def materialize_with_sharded_index(
    raw_stream: DataFrame,
    sink: KeyedStateSink,
    shards: "list[tuple[str, list[list[float]], list[list[list[float]]]]]",
    route,
    checkpoint_dir: str,
    vec_field: str = "embedding",
    trigger_once: bool = False,
    processing_time: str = "500 milliseconds",
) -> "object":
    """:func:`materialize_with_index`, sharded: one embeddings CDC
    stream maintains the table of record AND every shard's serving
    index per micro-batch, with shard-crossing updates handled by
    :func:`sharded_ivf2_apply_cdc`."""
    decoded = decode_envelope(raw_stream, row_schema=sink.schema, key_field=sink.key)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            sink.apply_changes(route_changes(batch_df), batch_id)
            sharded_ivf2_apply_cdc(
                batch_df, shards, route, vec_field=vec_field, batch_id=batch_id
            )
        finally:
            batch_df.unpersist()

    writer = decoded.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def materialize_with_index(
    raw_stream: DataFrame,
    sink: KeyedStateSink,
    index_path: str,
    coarse: "list[list[float]]",
    fines: "list[list[list[float]]]",
    checkpoint_dir: str,
    vec_field: str = "embedding",
    trigger_once: bool = False,
    processing_time: str = "500 milliseconds",
) -> "object":
    """ONE embeddings CDC stream → the table of record (KeyedStateSink)
    AND the serving index, per micro-batch — "the index stays fresh
    under CDC". Each half keeps its own applied-batch marker, so a
    crash between the two commits redelivers the batch as a no-op on
    the committed half and a normal merge on the other (the
    materialize_tables exactly-once composition argument).
    """
    decoded = decode_envelope(raw_stream, row_schema=sink.schema, key_field=sink.key)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            sink.apply_changes(route_changes(batch_df), batch_id)
            ivf2_apply_cdc(
                batch_df, coarse, fines, index_path,
                vec_field=vec_field, batch_id=batch_id,
            )
        finally:
            batch_df.unpersist()

    writer = decoded.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
